package graft

import org.apache.spark.sql.functions._
import scala.util.Random
import graft.ops.{AsOfJoin, Sessionize, SkewJoin}

/** Property-style invariant tests (SURVEY.md §5.3) over seeded random
  * inputs: conservation of money in the commission dataflow, window
  * aggregation vs sequential folds, dedup idempotence, and operator
  * equivalence against naive implementations. */
class PropertySpec extends SparkSuite {
  def ts(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(sec * 1000)

  test("conservation: commissions + profit = price whenever profit > 0") {
    import spark.implicits._
    val rnd = new Random(42)
    (1 to 10).foreach { _ =>
      val chainLen = rnd.nextInt(15)
      val price = (rnd.nextInt(100000) + 100) / 100.0
      val (dr, pr) = (0.10, Seq(0.05, 0.12, 0.30)(rnd.nextInt(3)))
      val edges = (0 until chainLen)
        .map(i => (s"u${i + 1}", s"u$i")).toDF("referred_id", "referrer_id")
      val red = Seq((1L, s"u$chainLen", "uC", price))
        .toDF("redemption_id", "redeemer_id", "creator_id", "price")
      val comm = graft.engine.Commission.attribute(edges, red, dr, pr)
      val row = graft.engine.Commission.companyProfit(red, comm).collect().head
      val (profit, paid) = (row.getDouble(1), row.getDouble(2))
      assert(profit >= 0.0)
      if (profit > 0) assert(math.abs(paid + profit - price) < 1e-9,
        s"chain=$chainLen price=$price pr=$pr paid=$paid profit=$profit")
      // paid = direct + passive × min(chain, 10) ancestors
      val expPaid = price * dr + price * pr * math.min(chainLen, 10)
      assert(math.abs(paid - expPaid) < 1e-9)
    }
  }

  test("star-contraction components equal union-find on random graphs") {
    import spark.implicits._
    val rnd = new Random(13)
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    (1 to 5).foreach { trial =>
      val n = 30 + rnd.nextInt(100)
      val m = 1 + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val got = graft.engine.Dedup.componentsStar(edges.toDF("a", "b"))
          .as[(Long, Long)].collect().toMap
        assert(got == unionFind(edges), s"trial=$trial n=$n m=$m")
      }
    }
  }

  test("incremental components equal full recompute on random append splits") {
    import spark.implicits._
    val rnd = new Random(29)
    (1 to 5).foreach { trial =>
      val n = 30 + rnd.nextInt(60)
      val m = n + rnd.nextInt(n)
      val all = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      if (all.size >= 4) {
        // random append-only split: base gets a random prefix, the rest
        // arrives as the delta batch
        val cut = 1 + rnd.nextInt(all.size - 2)
        val (base, delta) = all.splitAt(cut)
        // restrict to deltas whose endpoints stay in the node universe
        // of base ∪ delta (always true here) — no other precondition
        val prev = graft.engine.Dedup.componentsStar(base.toDF("a", "b"))
          .localCheckpoint()
        val (inc, _) = graft.engine.Dedup.componentsIncremental(
          prev, delta.toDF("a", "b"))
        val full = graft.engine.Dedup.componentsStar(all.toDF("a", "b"))
        val (gi, gf) = (inc.as[(Long, Long)].collect().toMap,
          full.as[(Long, Long)].collect().toMap)
        // incremental also labels base-only singleton side: compare on
        // the full graph's node set (nodes with at least one edge)
        assert(gf.keySet.subsetOf(gi.keySet), s"trial=$trial missing nodes")
        gf.foreach { case (k, v) =>
          assert(gi(k) == v, s"trial=$trial node $k: inc=${gi(k)} full=$v")
        }
      }
    }
  }

  test("table checksum is invariant to order/partitioning and sensitive to any cell") {
    import spark.implicits._
    val rnd = new Random(31)
    val rows = Seq.tabulate(300)(i =>
      (i.toLong, s"name$i", if (i % 7 == 0) null else s"v${i % 13}"))
    val df = rows.toDF("id", "name", "tag")
    def sig(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      graft.engine.Maintenance.tableChecksum(d, buckets = 16)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val base = sig(df)
    // invariance: any partitioning/order, and column order too
    assert(sig(df.repartition(7)) == base)
    assert(sig(df.orderBy($"name".desc)) == base)
    assert(sig(df.select($"tag", $"id", $"name")) == base)
    // sensitivity: mutate one random cell → some bucket diverges
    (1 to 3).foreach { _ =>
      val k = rnd.nextInt(rows.size).toLong
      val mutated = df.withColumn("name",
        when($"id" === k, concat($"name", lit("X"))).otherwise($"name"))
      assert(sig(mutated) != base, s"mutation of row $k undetected")
      assert(graft.engine.Maintenance.tableDiff(df, mutated).count() >= 1)
    }
    // null vs the literal string "NULL" must hash differently
    val nulls = Seq((1L, "a", null.asInstanceOf[String])).toDF("id", "name", "tag")
    val lits = Seq((1L, "a", "NULL")).toDF("id", "name", "tag")
    assert(graft.engine.Maintenance.tableDiff(nulls, lits).count() > 0)
  }

  test("running balance window final row equals group total (exact)") {
    import spark.implicits._
    val rnd = new Random(7)
    val rows = (1 to 300).map { i =>
      (rnd.nextInt(5).toLong, i.toLong, ts(rnd.nextInt(100000)),
        (rnd.nextInt(20000) - 10000) / 100.0)
    }
    val df = rows.toDF("user_id", "event_id", "ts", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val lastRunning = df
      .withColumn("run", sum(graft.engine.Exact.scaled($"value", 100)).over(w))
      .groupBy($"user_id").agg(max(struct($"ts", $"event_id", $"run")).as("m"))
      .select($"user_id", $"m.run".as("run"))
    val totals = df.groupBy($"user_id")
      .agg(sum(graft.engine.Exact.scaled($"value", 100)).as("tot"))
    val joined = lastRunning.join(totals, "user_id")
      .filter($"run" =!= $"tot").count()
    assert(joined == 0)
  }

  test("sessionize session count = gaps exceeding threshold + 1, per key") {
    import spark.implicits._
    val rnd = new Random(11)
    val gapUs = 600L * 1000000 // 10 min
    val byUser = (0 until 4).map { u =>
      var t = 0L
      val times = (1 to 50).map { _ =>
        t += rnd.nextInt(1200); t // seconds, gaps 0..20 min
      }
      u.toLong -> times
    }
    val df = byUser.flatMap { case (u, times) =>
      times.zipWithIndex.map { case (sec, i) => (u, (u * 1000 + i).toLong, ts(sec)) }
    }.toDF("user_id", "event_id", "ts")
    val got = Sessionize.withSessionSeq(df, "user_id", "ts", "event_id", gapUs)
      .groupBy($"user_id").agg((max($"session_seq") + 1).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = byUser.map { case (u, times) =>
      u -> (1L + times.sliding(2).count {
        case Seq(a, b) => (b - a) * 1000000L > gapUs
        case _ => false
      })
    }.toMap
    assert(got == expected)
  }

  test("dedup idempotence and min-id-per-key selection") {
    import spark.implicits._
    val rnd = new Random(3)
    val rows = (1 to 500).map(i => (i.toLong, s"key${rnd.nextInt(40)}"))
    val df = rows.toDF("id", "k")
    val once = df.dropDuplicates("k")
    assert(once.dropDuplicates("k").count() == once.count())
    val keepMin = df.groupBy($"k").agg(min($"id").as("id"))
    val expected = rows.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    assert(keepMin.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expected)
  }

  test("salted join equals plain join under heavy skew") {
    import spark.implicits._
    val rnd = new Random(5)
    // 90% of large rows share one key
    val large = (1 to 2000).map { i =>
      (if (rnd.nextDouble() < 0.9) 1L else rnd.nextInt(50).toLong, i.toLong)
    }.toDF("k", "payload")
    val small = (0 until 50).map(k => (k.toLong, s"dim$k")).toDF("k", "name")
    val plain = large.join(small, "k").select("k", "payload", "name")
      .orderBy("k", "payload").collect().toSeq
    val salted = SkewJoin.salted(large, small, "k", 8)
      .select("k", "payload", "name").orderBy("k", "payload").collect().toSeq
    assert(salted == plain && plain.nonEmpty)
  }

  test("as-of join equals naive per-row scan on random data") {
    import spark.implicits._
    val rnd = new Random(13)
    val lrows = (1 to 150).map(i => (rnd.nextInt(4).toLong, i.toLong, ts(rnd.nextInt(3000))))
    val rrows = (1 to 150).map(i => (rnd.nextInt(4).toLong, 1000L + i, ts(rnd.nextInt(3000))))
    val left = lrows.toDF("k", "lid", "t")
    val right = rrows.toDF("k", "rid", "rt")
    val got = AsOfJoin.backward(left, right, Seq("k"), "t", "rt", "rid",
        Seq("rid" -> "rid"))
      .collect().map(r => (r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toMap
    val expected = lrows.map { case (k, lid, t) =>
      val candidates = rrows.filter(r => r._1 == k && !r._3.after(t))
      lid -> (if (candidates.isEmpty) None
              else Some(candidates.maxBy(r => (r._3.getTime, r._2))._2))
    }.toMap
    assert(got == expected)
  }
}
