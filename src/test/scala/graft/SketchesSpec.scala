package graft

import org.apache.spark.sql.functions._

/** Analytic properties of the sketch/chunking/gap-fill operators that
  * the hash-equality oracle can't express: estimator error bounds, the
  * CMS one-sided guarantee, and chunk/grid reconstruction invariants. */
class SketchesSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.01"

  test("KMV estimate lands within the theoretical relative-error band") {
    import spark.implicits._
    val rows = SparkEntry.queries("q92_kmv_distinct")(spark, dir)
      .select($"true_distinct".cast("double"), $"est_distinct").as[(Double, Double)]
      .collect()
    assert(rows.nonEmpty)
    // bottom-k estimator stderr ≈ 1/sqrt(k-2); allow 4 sigma
    val tol = 4.0 / math.sqrt(126.0)
    rows.foreach { case (truth, est) =>
      assert(math.abs(est / truth - 1.0) < tol,
        s"KMV estimate $est vs true $truth outside ±$tol")
    }
  }

  test("KMV sketch is partitioning-invariant (1 vs 16 partitions)") {
    import spark.implicits._
    val kmv = udaf(new graft.engine.Sketches.Kmv(32))
    val data = (1 to 5000).map(i => s"v${i % 997}")
    def est(parts: Int): Double =
      data.toDF("x").repartition(parts)
        .agg(kmv(md5($"x"))).as[Double].head()
    assert(est(1) == est(16))
  }

  test("HLL register state is partitioning-invariant and the estimate lands in band") {
    import spark.implicits._
    val hll = udaf(new graft.engine.Sketches.Hll)
    val data = (1 to 60000).map(i => s"v${i % 9973}") // 9973 distinct, heavy dups
    def state(parts: Int): Seq[Long] =
      data.toDF("x").repartition(parts)
        .agg(hll(md5($"x"))).as[Seq[Long]].head()
    val s1 = state(1)
    // max-merge is order/partition independent — the STATE matches, not
    // just the estimate (stronger than the KMV/MG guarantees)
    assert(s1 == state(16) && s1 == state(32))
    val est = graft.engine.Sketches.HllEstNumerator / s1(1).toDouble
    // HLL stderr ≈ 1.04/sqrt(m) = 13% at m = 64; allow 3 sigma
    assert(math.abs(est / 9973.0 - 1.0) < 3 * 1.04 / 8.0,
      s"HLL estimate $est vs true 9973 outside band")
  }

  test("BloomBits bitmap is partitioning-invariant; q126 flags are a superset of truth") {
    import spark.implicits._
    val agg = udaf(new graft.engine.Sketches.BloomBits(64))
    val pos = (1 to 5000).map(i => (i.toLong * 31L) % 4096L)
    def bm(parts: Int): Seq[Long] =
      pos.toDF("p").repartition(parts).agg(agg($"p")).as[Seq[Long]].head()
    val b1 = bm(1)
    assert(b1 == bm(16)) // OR-merge: same bitmap under any layout
    // bitmap ⟺ position set: bit j set iff j was inserted
    val set = pos.toSet
    (0L until 4096L).foreach { j =>
      val bit = (b1((j >> 6).toInt) >> (j & 63L)) & 1L
      assert((bit == 1L) == set.contains(j), s"bit $j mismatch")
    }
    // the verified query's guarantee: no false negatives, ever
    val rows = SparkEntry.queries("q126_bloom_decontamination")(spark, dir)
      .select($"n_overlap", $"n_bloom", $"contaminated", $"bloom_flagged")
      .as[(Long, Long, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nov, nbl, cont, flag) =>
      assert(nbl >= nov, s"bloom undercounted: $nbl < $nov")
      assert(!cont || flag, "contaminated doc not bloom-flagged")
    }
  }

  test("sketch store: persisted per-shard sketches merge to the direct global sketch") {
    import spark.implicits._
    // the 100 TB rollup contract: a nightly job writes ONE sketch row
    // per shard; any later cross-shard question is answered by merging
    // the stored sketches — never by rescanning the corpus. Both
    // families round-trip through parquet bit-exactly.
    val keep = udaf(new graft.engine.Sketches.KmvKeep(64))
    val regs = udaf(new graft.engine.Sketches.HllRegs)
    val regMerge = udaf(new graft.engine.Sketches.HllRegMerge)
    val hll = udaf(new graft.engine.Sketches.Hll)
    val df = (1 to 40000).map(i => (i % 13L, s"v${i % 3001}")).toDF("shard", "x")
    val store = java.nio.file.Files.createTempDirectory("graft_sketch_store").toString
    df.groupBy($"shard")
      .agg(keep(md5($"x")).as("kmv"), regs(md5($"x")).as("hll_regs"))
      .write.mode("overwrite").parquet(store)
    val shards = spark.read.parquet(store)
    assert(shards.count() == 13)
    val mergedKmv = shards.select(explode($"kmv").as("h"))
      .agg(keep($"h")).as[Seq[String]].head()
    val directKmv = df.agg(keep(md5($"x"))).as[Seq[String]].head()
    assert(mergedKmv == directKmv, "KMV store round-trip must be exact")
    val mergedHll = shards.agg(regMerge($"hll_regs")).as[Seq[Long]].head()
    val directHll = df.agg(hll(md5($"x"))).as[Seq[Long]].head()
    assert(mergedHll == directHll, "HLL store round-trip must be exact")
  }

  test("KMV merge-closure: bottom-k of two merged sketches = bottom-k of the union") {
    import spark.implicits._
    val keep = udaf(new graft.engine.Sketches.KmvKeep(32))
    val left = (1 to 3000).map(i => s"L${i % 500}")
    val right = (1 to 3000).map(i => s"R${i % 400}") ++ left.take(200)
    def sketch(xs: Seq[String]): Seq[String] =
      xs.toDF("x").repartition(8).agg(keep(md5($"x"))).as[Seq[String]].head()
    val merged = (sketch(left) ++ sketch(right)).distinct.sorted.take(32)
    assert(merged == sketch(left ++ right),
      "sketch-level union merge must equal the data-level union sketch")
  }

  test("CMS estimates are one-sided: est_cnt >= true_cnt, min over rows") {
    import spark.implicits._
    val rows = SparkEntry.queries("q93_cms_heavy_hitters")(spark, dir)
      .select($"true_cnt", $"est_cnt").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, e) => assert(e >= t, s"CMS undercounted: $e < $t") }
  }

  test("Misra-Gries exact regime is partitioning-invariant; eviction keeps MG bounds") {
    import spark.implicits._
    // exact regime (distinct 5 ≤ cap 8): any partitioning, same summary
    val mg8 = udaf(new graft.engine.Sketches.MisraGries(8))
    val skew = (1 to 6000).map { i =>
      if (i % 10 < 6) "hot" else s"cold${i % 10}" // 60% one key, 4 cold keys
    }
    def summary(parts: Int): String =
      skew.toDF("x").repartition(parts).agg(mg8($"x")).as[String].head()
    assert(summary(1) == summary(13))
    assert(summary(1).startsWith("hot:3600"))

    // under capacity (cap 3 < 5 distinct): summary weights obey the MG
    // guarantee true − N/(cap+1) ≤ weight ≤ true, and the 60% key —
    // far above the N/(cap+1) retention threshold — must survive
    // whatever the partition layout
    val mg3 = udaf(new graft.engine.Sketches.MisraGries(3))
    for (parts <- Seq(1, 7)) {
      val out = skew.toDF("x").repartition(parts).agg(mg3($"x")).as[String].head()
      val weights = out.split(",").filter(_.nonEmpty)
        .map { e => val Array(k, c) = e.split(":"); k -> c.toLong }.toMap
      val trueCnt = skew.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val slack = skew.size / 4 // N/(cap+1)
      assert(weights.contains("hot"), s"heavy key evicted at parts=$parts: $out")
      weights.foreach { case (k, w) =>
        val t = trueCnt(k)
        assert(w <= t && w >= t - slack,
          s"MG bound violated for $k: weight $w vs true $t (slack $slack)")
      }
    }
  }

  test("quantile sketch is exact (and partitioning-invariant) in the ≤ k regime") {
    import spark.implicits._
    val k = 64
    val qsk = udaf(new graft.engine.Sketches.QuantileSketch(k, Seq(0.5, 0.9, 0.99)))
    // 60 values ≤ k: sketch must return the exact discrete quantiles
    // (value at rank ceil(q·n)) for ANY partition layout
    val vals = (1 to 60).map(i => ((i * 37) % 61).toDouble)
    val sortedV = vals.sorted
    def exact(q: Double): Double = sortedV(math.ceil(q * vals.size).toInt - 1)
    for (parts <- Seq(1, 7, 16)) {
      val est = vals.toDF("v").repartition(parts)
        .agg(qsk($"v")).as[Array[Double]].head()
      assert(est.toSeq == Seq(exact(0.5), exact(0.9), exact(0.99)),
        s"parts=$parts: ${est.toSeq}")
    }
  }

  test("quantile sketch rank error stays within the deterministic bound") {
    import spark.implicits._
    val k = 256
    val n = 50000
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    val qsk = udaf(new graft.engine.Sketches.QuantileSketch(k, qs))
    // adversarial-ish input: skewed duplicates + a smooth tail, keyed
    // hash order so the data is deterministic but unsorted
    val vals = (1 to n).map { i =>
      val h = ((i * 2654435761L) & 0x7fffffff) % n
      if (h % 3 == 0) 42.0 else h.toDouble / 7.0
    }
    val sortedV = vals.sorted.toArray
    // hard bound: ε = L/k with L levels; generous 2x headroom
    val levels = math.max(1, math.ceil(math.log(n.toDouble / k) / math.log(2)).toInt)
    val eps = 2.0 * levels.toDouble / k
    for (parts <- Seq(1, 32)) {
      val est = vals.toDF("v").repartition(parts)
        .agg(qsk($"v")).as[Array[Double]].head()
      qs.zip(est).foreach { case (q, e) =>
        val lo = sortedV.count(_ < e)   // est rank interval [lo+1, hi]
        val hi = sortedV.count(_ <= e)
        val target = q * n
        assert(lo <= target + eps * n && hi >= target - eps * n,
          s"parts=$parts q=$q est=$e rank=[$lo,$hi] target=$target eps=$eps")
      }
    }
  }

  test("chunks reconstruct every document exactly (stride-overlap inverse)") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", trim(regexp_replace($"text", "\\s+", " ")).as("norm"))
    // drop the 10-token overlap from every chunk after the first, then
    // re-concatenate in chunk order — must equal the normalized text
    val rebuilt = SparkEntry.queries("q90_doc_chunks")(spark, dir)
      .withColumn("ws", split($"chunk_text", " "))
      .withColumn("tail_part", when($"chunk_id" === 0, $"chunk_text")
        .otherwise(array_join(slice($"ws", 11, 40), " ")))
      .filter($"chunk_id" === 0 || size($"ws") > 10)
      .groupBy($"doc_id")
      .agg(array_join(array_sort(collect_list(struct($"chunk_id", $"tail_part")))
        .getField("tail_part"), " ").as("rebuilt"))
    val bad = docs.join(rebuilt, "doc_id").filter($"rebuilt" =!= $"norm").count()
    assert(bad == 0L)
  }

  test("bloom pre-filter for dedup: no false negatives, bounded false positives") {
    import spark.implicits._
    // the shuffle-avoidance pattern for incremental dedup at 100 TB: a
    // compact bloom of already-seen fingerprints broadcasts to the new
    // batch, and only might-contain hits pay the exact-match join —
    // sound because bloom filters never report false negatives
    val fp = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", md5(trim($"text")).as("fingerprint"))
    val seen = fp.filter($"doc_id" < 100).select($"fingerprint").distinct()
    val bloom = seen.stat.bloomFilter("fingerprint", 1000, 0.03)
    val bc = spark.sparkContext.broadcast(bloom)
    val hit = udf((s: String) => bc.value.mightContainString(s))
    // every seen fingerprint must hit (soundness of the pre-filter)
    assert(seen.filter(!hit($"fingerprint")).count() == 0L)
    // genuinely-unseen fingerprints (exact-dup texts anti-joined away)
    // hit only at ~fpp rate (cheapness)
    val unseen = fp.select($"fingerprint").distinct()
      .join(seen, Seq("fingerprint"), "left_anti").cache()
    val fpRate = unseen.filter(hit($"fingerprint")).count().toDouble / unseen.count()
    assert(fpRate < 0.2, s"false-positive rate $fpRate too high")
    unseen.unpersist()
  }

  test("histogram buckets cover all rows and bounds tile the range") {
    import spark.implicits._
    val h = SparkEntry.queries("q95_histogram")(spark, dir)
      .select($"bucket", $"lo", $"hi", $"cnt").as[(Long, Double, Double, Long)]
      .collect().sortBy(_._1)
    val total = graft.engine.Tables.lineitem(spark, dir).count()
    assert(h.map(_._4).sum == total)
    h.sliding(2).foreach {
      case Array(a, b) => assert(math.abs(a._3 - b._2) < 1e-6 && a._1 + 1 == b._1)
      case _ =>
    }
  }

  test("gap-fill grid is dense per user and forward-fill is last-non-null") {
    import spark.implicits._
    val g = SparkEntry.queries("q94_gapfill_ffill")(spark, dir).cache()
    // dense: per user, #rows == hours between first and last + 1
    val spans = g.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        (unix_timestamp(max($"h")) - unix_timestamp(min($"h"))).as("secs"))
      .filter($"n" =!= (($"secs" / lit(3600)).cast("long") + 1L)).count()
    assert(spans == 0L)
    // some genuine gaps exist and they carry the previous hourly value
    assert(g.filter($"n_events" === 0L).count() > 0L)
    assert(g.filter($"n_events" === 0L && $"v_ffill".isNull).count() == 0L)
    g.unpersist()
  }

  test("rolling distinct: calendar window, HLL estimate tracks exact rolling truth") {
    import spark.implicits._
    val rows = SparkEntry.queries("q208_rolling_distinct")(spark, dir)
      .select($"d".cast("string"), $"day_distinct", $"est_users")
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    // exact trailing-7-day distinct from raw (day, user) pairs
    val du = graft.engine.Tables.events(spark, dir)
      .select(to_date($"ts").cast("string"), $"user_id")
      .distinct().as[(String, Long)].collect()
    val byDay = du.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    rows.foreach { case (d, dayDistinct, est) =>
      assert(byDay(d).size.toLong === dayDistinct, s"day $d exact anchor")
      val day = java.time.LocalDate.parse(d)
      val rolling = (0 to 6).flatMap(k =>
        byDay.getOrElse(day.minusDays(k).toString, Set.empty[Long])).toSet.size
      // m = 64 registers => ~13% standard error; allow 4 sigma
      assert(est > rolling * 0.48 && est < rolling * 1.9,
        s"day $d est $est vs exact rolling $rolling")
      assert(est >= dayDistinct * 0.48, s"window est below its own day")
    }
  }
}
