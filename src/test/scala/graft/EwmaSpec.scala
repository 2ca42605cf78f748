package graft

import org.apache.spark.sql.functions._

/** The affine-composition EWMA (graft.functions.EwmaAffine): the
  * properties the hash oracle can't see — bounded state (no
  * collect_list in the plan), partitioning invariance, agreement with
  * the naive sequential recurrence, and the defensive out-of-order
  * stitch path. */
class EwmaSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.01"

  /** Deterministic synthetic series: 7 users × up to 400 points. */
  private def fixture = {
    import spark.implicits._
    (for {
      u <- 1 to 7
      i <- 1 to (u * 57 % 400 + 3)
    } yield {
      val x = math.sin(u * 1000 + i) * 50 + 50 // deterministic, no RNG
      (u.toLong, (i * 61 % 1000).toLong * 1000L + i, i.toLong, x)
    }).toDF("user_id", "ts_us", "event_id", "value")
  }

  private def run(parts: Int): Map[Long, Double] = {
    import spark.implicits._
    val ewma = graft.functions.EwmaAffine.udafFor(0.2)
    fixture.repartition(parts, $"event_id") // arbitrary, wrong-key layout in
      .repartition($"user_id")              // ...then the operator's own layout
      .sortWithinPartitions($"user_id", $"ts_us", $"event_id")
      .groupBy($"user_id")
      .agg(ewma($"ts_us", $"event_id", $"value").as("ewma"))
      .as[(Long, Double)].collect().toMap
  }

  test("q103 plan contains no collect_list (per-key state is O(1))") {
    val p = SparkEntry.queries("q103_ewma")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("collect_list"), s"series materialized:\n$p")
  }

  test("partitioning-invariant: identical bits at 1, 3, and 16 input partitions") {
    val r1 = run(1); val r3 = run(3); val r16 = run(16)
    assert(r1.nonEmpty && r1.keySet == r3.keySet && r1.keySet == r16.keySet)
    r1.keys.foreach { u =>
      assert(r1(u) == r3(u) && r1(u) == r16(u),
        s"user $u: ${r1(u)} / ${r3(u)} / ${r16(u)}")
    }
  }

  test("matches the sequential recurrence (same real arithmetic, ulp-level)") {
    import spark.implicits._
    val got = run(4)
    val truth = fixture.as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (u, rows) =>
        val xs = rows.sortBy(r => (r._2, r._3)).map(_._4)
        u -> xs.tail.foldLeft(xs.head)((acc, x) => 0.2 * x + 0.8 * acc)
      }
    truth.foreach { case (u, s) =>
      assert(math.abs(got(u) - s) <= 1e-9 * math.max(1.0, math.abs(s)),
        s"user $u: affine ${got(u)} vs sequential $s")
    }
  }

  test("out-of-order input is rejected loudly, never folded wrong") {
    import spark.implicits._
    val ewma = graft.functions.EwmaAffine.udafFor(0.2)
    // no sort, shuffled by the wrong key: arrivals interleave, and an
    // interleaved element can't be spliced into a composed run — the
    // contract violation must surface as an error, not a ulp-wrong fold
    val ex = intercept[Exception] {
      fixture.repartition(5, $"event_id")
        .groupBy($"user_id")
        .agg(ewma($"ts_us", $"event_id", $"value").as("ewma"))
        .collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    assert(messages(ex).exists(_.contains("EwmaAffine")), s"unexpected error: $ex")
  }

  test("merge stitches key-contiguous partials: exact to the last ulp vs one pass") {
    val agg = new graft.functions.EwmaAffine.Agg(0.2)
    val xs = (1 to 100).map(i => ((i * 10).toLong, i.toLong, math.cos(i) * 10 + 20))
    val single = agg.finish(xs.foldLeft(agg.zero)(agg.reduce)).get
    // range-split: two key-contiguous sorted partials, merged either way
    val b1 = xs.take(37).foldLeft(agg.zero)(agg.reduce)
    val b2 = xs.drop(37).foldLeft(agg.zero)(agg.reduce)
    val m12 = agg.finish(agg.merge(b1, b2)).get
    val m21 = agg.finish(agg.merge(b2, b1)).get
    assert(m12 == m21, "merge order must not matter")
    // the stitch reassociates one multiplication chain — exact in real
    // arithmetic, bounded at the last few ulps in IEEE
    assert(math.abs(m12 - single) <= 1e-12 * math.max(1.0, math.abs(single)),
      s"stitched $m12 vs one-pass $single")
    // and at the engine's emitted precision they are identical
    assert(BigDecimal(m12).setScale(6, BigDecimal.RoundingMode.HALF_UP) ==
      BigDecimal(single).setScale(6, BigDecimal.RoundingMode.HALF_UP))
  }

  test("single-point series returns the point itself") {
    import spark.implicits._
    val ewma = graft.functions.EwmaAffine.udafFor(0.2)
    val one = Seq((1L, 10L, 1L, 42.5)).toDF("user_id", "ts_us", "event_id", "value")
      .groupBy($"user_id").agg(ewma($"ts_us", $"event_id", $"value").as("e"))
      .as[(Long, Double)].head()
    assert(one._2 == 42.5)
  }
}
