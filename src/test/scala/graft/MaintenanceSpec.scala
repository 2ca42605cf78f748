package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.engine.Maintenance

/** MERGE-style write paths and compaction (SURVEY.md §2.1 S5's
  * at-scale answer). The merged *view* is oracle-verified as
  * q71_merge_upsert; this spec pins the physical write path and the
  * delete/compaction behaviors the oracle can't see. */
class MaintenanceSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"
  def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("q238 on-disk dedup state round-trip: g1 tables persist, g2 output equals memoized path") {
    import spark.implicits._
    // run the declared query — it writes g1 state (first run), reads it
    // back, ingests the delta, writes g2, and reads the output from g2
    val disk = SparkEntry.queries("q238_incremental_dedup_disk")(spark, dir)
      .collect().toSeq
    val memo = SparkEntry.queries("q122_incremental_dedup")(spark, dir)
      .collect().toSeq
    assert(disk == memo, "disk-state path diverged from the memoized path")
    assert(disk.nonEmpty)
    // the state tables exist on disk as BUCKETED tables and are
    // re-readable: generation 1 (seed) and generation 2 (advanced)
    val key = graft.engine.Scratch.stateKey(spark, dir)
    for (t <- Seq(s"graft_state_bands_$key", s"graft_state_labels_$key",
                  s"graft_state_bands_${key}_g2", s"graft_state_labels_${key}_g2")) {
      assert(spark.catalog.tableExists(t), s"state table $t missing")
      assert(spark.table(t).count() > 0, s"state table $t empty")
    }
    // the advanced generation strictly contains the seed generation
    val g1 = spark.table(s"graft_state_bands_$key").count()
    val g2 = spark.table(s"graft_state_bands_${key}_g2").count()
    assert(g2 > g1, "advanced band index must contain the delta's bands")
    // bucket layout survived the round-trip (the probe join's
    // shuffle-free contract): bucketed by the probe key
    val desc = spark.sql(
      s"DESCRIBE TABLE EXTENDED graft_state_bands_${key}_g2")
      .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
    assert(desc.contains("Num Buckets") && desc.contains("bandkey"),
      s"bucket spec lost in round-trip:\n$desc")
  }

  test("q265/q266 disk-state round-trips: g1 persists, g2 output equals memoized path") {
    import spark.implicits._
    val key = graft.engine.Scratch.stateKey(spark, dir)
    // postings: disk path ≡ session-memoized incremental path
    val postDisk = SparkEntry.queries("q265_postings_disk")(spark, dir)
      .collect().toSeq
    val postMemo = SparkEntry.queries("q190_postings_incremental")(spark, dir)
      .collect().toSeq
    assert(postDisk == postMemo, "q265 disk path diverged from q190")
    assert(postDisk.nonEmpty)
    // vocab: disk path ≡ session-memoized incremental path
    val vocDisk = SparkEntry.queries("q266_vocab_disk")(spark, dir)
      .collect().toSeq
    val vocMemo = SparkEntry.queries("q201_incremental_vocab")(spark, dir)
      .collect().toSeq
    assert(vocDisk == vocMemo, "q266 disk path diverged from q201")
    assert(vocDisk.nonEmpty)
    for (t <- Seq(s"graft_state_postings_$key", s"graft_state_postings_${key}_g2",
                  s"graft_state_vocab_$key", s"graft_state_vocab_${key}_g2")) {
      assert(spark.catalog.tableExists(t), s"state table $t missing")
      assert(spark.table(t).count() > 0, s"state table $t empty")
    }
    // the advanced generations strictly contain the seeds
    assert(spark.table(s"graft_state_postings_${key}_g2").count() >
      spark.table(s"graft_state_postings_$key").count(),
      "advanced postings index must contain the delta's rows")
    assert(spark.table(s"graft_state_vocab_${key}_g2").count() >=
      spark.table(s"graft_state_vocab_$key").count(),
      "advanced census cannot shrink (min/sum merge)")
    // bucket layout survived: bucketed by term (the merge/probe key)
    for (t <- Seq(s"graft_state_postings_${key}_g2",
                  s"graft_state_vocab_${key}_g2")) {
      val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
      assert(desc.contains("Num Buckets") && desc.contains("term"),
        s"bucket spec lost in $t round-trip:\n$desc")
    }
  }

  test("sweepStaleState is provably scoped to this app's warehouse state dirs") {
    val S = graft.engine.Scratch
    // non-state names, separator smuggling, and foreign-app names all refuse
    intercept[IllegalArgumentException] {
      S.sweepStaleState(spark, "customer")
    }
    intercept[IllegalArgumentException] {
      S.sweepStaleState(spark, s"graft_state_../escape_${S.appTag(spark)}")
    }
    intercept[IllegalArgumentException] {
      S.sweepStaleState(spark, "graft_state_bands_local_0000000000000_deadbeef")
    }
    // a genuinely stale dir of THIS application is deleted
    val whConf = spark.conf.get("spark.sql.warehouse.dir")
    val wh = if (whConf.startsWith("file:"))
      new java.net.URI(whConf).getPath else whConf
    val name = s"graft_state_sweeptest_${S.appTag(spark)}"
    val staleDir = new java.io.File(wh, name)
    staleDir.mkdirs()
    new java.io.FileOutputStream(new java.io.File(staleDir, "part-0")).close()
    assert(staleDir.exists())
    S.sweepStaleState(spark, name)
    assert(!staleDir.exists(), "stale state dir should have been swept")
    // a LIVE (catalog-registered) table of this app is left alone
    import spark.implicits._
    val liveName = s"graft_state_livetest_${S.appTag(spark)}"
    Seq((1L, "x")).toDF("k", "v").write.mode("overwrite").saveAsTable(liveName)
    S.sweepStaleState(spark, liveName)
    assert(spark.table(liveName).count() == 1L, "live state table was swept")
    spark.sql(s"DROP TABLE $liveName")
  }

  test("replay staging and its janitor live under java.io.tmpdir") {
    val S = graft.engine.Scratch
    val saved = System.getProperty("java.io.tmpdir")
    val root = java.nio.file.Files.createTempDirectory("graft_tmpdir_test").toFile
    try {
      System.setProperty("java.io.tmpdir", root.getPath)
      val staging = new java.io.File(S.dir(spark, "replay", dir))
      assert(staging.getParentFile.getParentFile == root.getAbsoluteFile, staging)
      // a dead application's aged root there is swept, this one's is kept
      val dead = new java.io.File(root, "graft_scratch_local-0000000000000")
      new java.io.File(dead, "replay_x").mkdirs()
      dead.setLastModified(System.currentTimeMillis() - 24L * 3600 * 1000)
      staging.mkdirs()
      staging.getParentFile.setLastModified(System.currentTimeMillis() - 24L * 3600 * 1000)
      S.sweepAgedState(spark)
      assert(!dead.exists(), "aged scratch root of another application should be swept")
      assert(staging.exists(), "this application's scratch root was swept")
    } finally {
      System.setProperty("java.io.tmpdir", saved)
      def wipe(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); ()
      }
      wipe(root)
    }
  }

  test("incremental aggregate maintenance is bit-identical to full recompute") {
    import spark.implicits._
    val orders = graft.engine.Tables.orders(spark, dir)
    val base = orders.filter($"o_orderkey" % 4 =!= 0)
    val delta = orders.filter($"o_orderkey" % 4 === 0)
    // maintain: state(base) merged with state(delta), then finalize
    val incremental = Maintenance.finalizeAgg(
      Maintenance.mergeAggState(
        Maintenance.aggState(base, "o_orderpriority", "o_totalprice"),
        Maintenance.aggState(delta, "o_orderpriority", "o_totalprice"),
        "o_orderpriority"),
      "o_orderpriority")
    // full recompute over everything at once
    val full = Maintenance.finalizeAgg(
      Maintenance.aggState(orders, "o_orderpriority", "o_totalprice"),
      "o_orderpriority")
    val i = incremental.orderBy($"o_orderpriority").collect().toSeq
    val f = full.orderBy($"o_orderpriority").collect().toSeq
    assert(i == f) // exact equality incl. doubles — the partials are integers
    assert(i.nonEmpty)
  }

  test("upsert written to parquet round-trips: updates replace, inserts add") {
    import spark.implicits._
    val base = graft.engine.Tables.nation(spark, dir)
    val updates = base.filter($"n_nationkey" < 5)
      .withColumn("n_name", lit("patched"))
    val inserts = base.filter($"n_nationkey" === 7)
      .withColumn("n_nationkey", lit(999).cast("int"))
    val out = tmp("graft_merge")
    Maintenance.upsert(base, updates.unionByName(inserts), Seq("n_nationkey"))
      .write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == base.count() + 1)
    assert(back.filter($"n_name" === "patched").count() == 5)
    assert(back.filter($"n_nationkey" === 999).count() == 1)
    // untouched rows are byte-identical to the base
    assert(back.filter($"n_nationkey" >= 5 && $"n_nationkey" =!= 999)
      .orderBy("n_nationkey").collect().toSeq ==
      base.filter($"n_nationkey" >= 5).orderBy("n_nationkey").collect().toSeq)
  }

  test("deleteMatching drops exactly the tombstoned keys") {
    import spark.implicits._
    val base = graft.engine.Tables.customer(spark, dir)
    val tombstones = base.filter($"c_custkey" % 7 === 0)
    val after = Maintenance.deleteMatching(base, tombstones, Seq("c_custkey"))
    assert(after.count() == base.count() - tombstones.count())
    assert(after.filter($"c_custkey" % 7 === 0).count() == 0)
  }

  test("partition-pruned upsert rewrites ONLY touched partitions (others byte-identical)") {
    import spark.implicits._
    val base = graft.engine.Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
    val table = tmp("graft_ptable")
    base.write.partitionBy("c_mktsegment").mode("overwrite").parquet(table)

    // snapshot (name, length, md5) of every data file per partition
    def fileState(segment: String): Seq[(String, Long, String)] = {
      val p = new org.apache.hadoop.fs.Path(s"$table/c_mktsegment=$segment")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile).toSeq.map { f =>
        val in = fs.open(f.getPath)
        val bytes = new Array[Byte](f.getLen.toInt)
        in.readFully(bytes); in.close()
        (f.getPath.getName, f.getLen,
          java.security.MessageDigest.getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString)
      }.sortBy(_._1)
    }
    val segments = base.select($"c_mktsegment").distinct()
      .as[String].collect().sorted.toSeq
    val touchedSeg = segments.head
    val untouched = segments.tail
    val before = untouched.map(s => s -> fileState(s)).toMap

    val updates = base.filter($"c_mktsegment" === touchedSeg && $"c_custkey" % 5 === 0)
      .withColumn("c_name", lit("MERGED"))
    val touched = Maintenance.upsertPartitioned(spark, table, updates,
      Seq("c_custkey"), "c_mktsegment")
    assert(touched == Seq(touchedSeg))

    // untouched partitions: every file byte-identical
    untouched.foreach(s => assert(fileState(s) == before(s), s"partition $s changed"))
    // touched partition: merge applied, row count preserved
    val back = spark.read.parquet(table)
    assert(back.count() == base.count())
    assert(back.filter($"c_name" === "MERGED").count() == updates.count())
    assert(back.filter($"c_name" === "MERGED" && $"c_mktsegment" =!= touchedSeg).count() == 0)
  }

  test("file-level pruned MERGE rewrites ONLY intersecting files within a partition") {
    import spark.implicits._
    val table = tmp("graft_ftable")
    val pdir = s"$table/seg=a"
    // three files with disjoint key ranges inside ONE partition
    (1 to 300).map(k => (k.toLong, s"name$k")).toDF("k", "v")
      .repartitionByRange(3, $"k").write.parquet(pdir)

    def files(): Seq[(String, Long, String)] = {
      val p = new org.apache.hadoop.fs.Path(pdir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .toSeq.map { f =>
          val in = fs.open(f.getPath)
          val bytes = new Array[Byte](f.getLen.toInt)
          in.readFully(bytes); in.close()
          (f.getPath.getName, f.getLen,
            java.security.MessageDigest.getInstance("MD5").digest(bytes)
              .map("%02x".format(_)).mkString)
        }.sortBy(_._1)
    }
    val before = files()
    assert(before.size >= 3)

    // one matched key (k=5, first file's range only) + one pure insert
    // (k=1000, beyond every file's range)
    val updates = Seq((5L, "MERGED", "a"), (1000L, "INSERTED", "a"))
      .toDF("k", "v", "seg")
    val (rewritten, kept) =
      Maintenance.upsertFilePruned(spark, table, updates, "k", "seg")
    assert(rewritten == 1, s"expected exactly the one intersecting file, got $rewritten")
    assert(kept == before.size - 1)

    // untouched files within the touched partition: byte-identical
    val after = files()
    val survivors = after.toSet.intersect(before.toSet)
    assert(survivors.size == before.size - 1,
      s"kept files must be physically untouched: before=$before after=$after")

    // post-image: update applied, insert present, nothing lost
    val back = spark.read.parquet(pdir)
    assert(back.count() == 301)
    assert(back.filter($"k" === 5L).select($"v").as[String].head() == "MERGED")
    assert(back.filter($"k" === 1000L).select($"v").as[String].head() == "INSERTED")
    assert(back.filter($"v".startsWith("name")).count() == 299)
  }

  test("partition values with special characters resolve to the existing escaped dir") {
    import spark.implicits._
    val table = tmp("graft_esc")
    Seq((1L, "x", "US east/1"), (2L, "y", "US east/1"), (3L, "z", "eu=2"))
      .toDF("k", "v", "seg")
      .write.partitionBy("seg").mode("overwrite").parquet(table)
    def partDirs(): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSeq.sorted
    }
    val dirsBefore = partDirs()
    assert(dirsBefore.size == 2)

    // raw "$pcol=$pv" would be a THIRD directory ("seg=US east/1" with a
    // literal slash); the escaped path must land in the existing one
    Maintenance.upsertPartitioned(spark, table,
      Seq((1L, "MERGED", "US east/1")).toDF("k", "v", "seg"),
      Seq("k"), "seg")
    assert(partDirs() == dirsBefore, "merge must not invent a new partition dir")
    val back = spark.read.parquet(table)
    assert(back.count() == 3)
    assert(back.filter($"v" === "MERGED").select($"seg").as[String].head() == "US east/1")
  }

  test("z-order layout skips files on the NON-leading column; linear sort cannot") {
    import spark.implicits._
    val src = graft.engine.Tables.orders(spark, "/root/testdata/sf0.01")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val zDir = tmp("graft_zorder")
    val linDir = tmp("graft_linear")
    val nFiles = 8
    Maintenance.zorderWrite(src, "o_custkey", "o_totalprice", zDir, nFiles)
    src.repartitionByRange(nFiles, $"o_custkey")
      .sortWithinPartitions($"o_custkey")
      .write.mode("overwrite").parquet(linDir)

    // fraction of files whose [min,max] o_totalprice straddles a probe
    // value = fraction a stats-pruning reader must open
    def overlapping(dirPath: String, probe: Double): Int = {
      val fs = new org.apache.hadoop.fs.Path(dirPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(dirPath))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .count { f =>
          val r = spark.read.parquet(f.getPath.toString)
            .agg(min($"o_totalprice"), max($"o_totalprice")).head()
          r.getDouble(0) <= probe && probe <= r.getDouble(1)
        }
    }
    val probe = src.agg(expr("percentile(o_totalprice, 0.5)")).head().getDouble(0)
    val zHit = overlapping(zDir, probe)
    val linHit = overlapping(linDir, probe)
    // linear-by-custkey files all span ~the full price range; z-ordered
    // files cover narrow rectangles in (custkey, price) space
    assert(linHit >= nFiles - 1, s"expected linear layout to straddle everywhere, hit $linHit")
    assert(zHit < linHit, s"z-order should prune: z=$zHit linear=$linHit")
    // data preserved
    assert(spark.read.parquet(zDir).count() == src.count())
  }

  test("bucketed checksum diff: identical ⇒ empty, one changed row ⇒ located bucket") {
    import spark.implicits._
    val orders = graft.engine.Tables.orders(spark, dir)

    // identical content, different partitioning and row order ⇒ empty diff
    val shuffled = orders.repartition(7).sortWithinPartitions($"o_totalprice")
    assert(Maintenance.tableDiff(orders, shuffled).count() == 0)

    // duplicate-count sensitivity: appending a copy of one existing row
    // must surface (an equality-based compare would miss it)
    val dupped = orders.unionByName(orders.limit(1))
    assert(Maintenance.tableDiff(orders, dupped).count() == 1)

    // one mutated row ⇒ at most 2 divergent buckets (old row's and new
    // row's), and re-salting narrows it: the same mutation diverges
    // under an independent salt too, while agreeing buckets stay clean
    val mutated = orders.withColumn("o_totalprice",
      when($"o_orderkey" === 7L, $"o_totalprice" + 1.0).otherwise($"o_totalprice"))
    val d1 = Maintenance.tableDiff(orders, mutated).collect()
    assert(d1.nonEmpty && d1.length <= 2,
      s"one changed row should hit ≤2 buckets, got ${d1.length}")
    val d2 = Maintenance.tableDiff(orders, mutated, salt = "pass2").collect()
    assert(d2.nonEmpty && d2.length <= 2)

    // the checksum is a bounded summary: buckets rows regardless of input
    assert(Maintenance.tableChecksum(orders, buckets = 32).count() <= 32)
  }

  test("checksum agrees across storage tiers: parquet path vs metastore table") {
    import spark.implicits._
    // the canonicalization (sorted columns, string casts) must make the
    // checksum a property of the DATA, not the storage: the same rows
    // read through the Hive catalog and through the parquet path hash
    // identically, so tableDiff can reconcile across tiers
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_diff")
    spark.sql("DROP TABLE IF EXISTS graft_diff.orders_copy")
    // a previous JVM's warehouse dir survives on disk while this run's
    // catalog has no entry for it — clear the location so the managed
    // CREATE can't collide (LOCATION_ALREADY_EXISTS)
    val loc = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/graft_diff.db/orders_copy")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    val parquetSide = graft.engine.Tables.orders(spark, dir)
    parquetSide.write.mode("overwrite").saveAsTable("graft_diff.orders_copy")
    val catalogSide = spark.table("graft_diff.orders_copy")
    assert(Maintenance.tableDiff(parquetSide, catalogSide).count() == 0)
  }

  test("patchFrom repairs a divergent copy to multiset-equality with the source") {
    import spark.implicits._
    val orders = graft.engine.Tables.orders(spark, dir)
    // divergent copy: one mutated row, one dropped row, one duplicated row
    val broken = orders
      .withColumn("o_totalprice", when($"o_orderkey" === 7L,
        $"o_totalprice" + 9.0).otherwise($"o_totalprice"))
      .filter($"o_orderkey" =!= 11L)
      .unionByName(orders.filter($"o_orderkey" === 13L))
    assert(Maintenance.tableDiff(orders, broken).count() > 0)

    val repaired = Maintenance.patchFrom(orders, broken)
    assert(Maintenance.tableDiff(orders, repaired).count() == 0)
    // independent exact check: multiset equality both directions
    assert(orders.exceptAll(repaired).count() == 0)
    assert(repaired.exceptAll(orders).count() == 0)
  }

  test("incremental foreachBatch upsert converges to the batch latest-per-key") {
    import spark.implicits._
    val dir001 = "/root/testdata/sf0.001"
    val stateDir = tmp("graft_state")
    val tieBreak = Seq(col("ts"), col("event_id"))
    // pre-seed v1 with a stale snapshot (every event 1000 days older):
    // the streamed batches must overwrite all of it (newer ts wins)
    Maintenance.applyBatch(
      graft.engine.Tables.events(spark, dir001)
        .withColumn("ts", expr("ts - INTERVAL 1000 DAYS")),
      stateDir, Seq("user_id"), tieBreak)
    val q = graft.streaming.Streams.eventStream(spark, dir001)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Maintenance.applyBatch(batch, stateDir, Seq("user_id"), tieBreak): Unit
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latestV = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
      .map(_.getPath.getName).filter(_.startsWith("v")).map(_.drop(1).toLong).max
    assert(latestV >= 2, "stream must have committed at least one version over the seed")
    val streamed = spark.read.parquet(s"$stateDir/v$latestV")
    val batchRef = Maintenance.upsertLatest(
      graft.engine.Tables.events(spark, dir001).limit(0),
      graft.engine.Tables.events(spark, dir001), Seq("user_id"), tieBreak)
    assert(streamed.count() == batchRef.count())
    assert(streamed.exceptAll(batchRef).count() == 0 &&
      batchRef.exceptAll(streamed).count() == 0)
  }

  test("compact folds many small files into few, preserving the data") {
    import spark.implicits._
    val in = tmp("graft_small")
    val out = tmp("graft_compacted")
    graft.engine.Tables.events(spark, dir).repartition(32)
      .write.mode("overwrite").parquet(in)
    val (before, after) = Maintenance.compact(spark, in, out)
    assert(before >= 32)
    assert(after < before)
    val a = spark.read.parquet(in)
    val b = spark.read.parquet(out)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}
