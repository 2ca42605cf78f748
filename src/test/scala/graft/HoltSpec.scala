package graft

import org.apache.spark.sql.functions._

/** The 2×2 affine-composition Holt smoother (graft.functions
  * .HoltAffine): the properties the hash oracle can't see — bounded
  * state, partitioning invariance, agreement with the naive
  * sequential level/trend recurrence, and the defensive out-of-order
  * path. Mirrors EwmaSpec, which pins the same contract for the
  * scalar (1×1) case. */
class HoltSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.01"

  private def fixture = {
    import spark.implicits._
    (for {
      u <- 1 to 7
      i <- 1 to (u * 57 % 400 + 3)
    } yield {
      val x = math.sin(u * 1000 + i) * 50 + 50
      (u.toLong, (i * 61 % 1000).toLong * 1000L + i, i.toLong, x)
    }).toDF("user_id", "ts_us", "event_id", "value")
  }

  private def run(parts: Int): Map[Long, (Double, Double)] = {
    import spark.implicits._
    val holt = graft.functions.HoltAffine.udafFor(0.5, 0.25)
    fixture.repartition(parts, $"event_id")
      .repartition($"user_id")
      .sortWithinPartitions($"user_id", $"ts_us", $"event_id")
      .groupBy($"user_id")
      .agg(holt($"ts_us", $"event_id", $"value").as("h"))
      .select($"user_id", $"h.level", $"h.trend")
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("q170 plan contains no collect_list (per-key state is O(1))") {
    val p = SparkEntry.queries("q170_holt_trend")(spark, dir)
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

  test("matches the sequential level/trend recurrence (ulp-level)") {
    import spark.implicits._
    val got = run(4)
    val truth = fixture.as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (u, rows) =>
        val xs = rows.sortBy(r => (r._2, r._3)).map(_._4)
        var l = xs.head; var b = 0.0
        xs.tail.foreach { x =>
          val lp = l
          l = 0.5 * x + 0.5 * (l + b)
          b = 0.25 * (l - lp) + 0.75 * b
        }
        u -> (l, b)
      }
    truth.foreach { case (u, (l, b)) =>
      val (gl, gb) = got(u)
      assert(math.abs(gl - l) <= 1e-9 * math.max(1.0, math.abs(l)),
        s"user $u level: affine $gl vs sequential $l")
      assert(math.abs(gb - b) <= 1e-9 * math.max(1.0, math.abs(b)),
        s"user $u trend: affine $gb vs sequential $b")
    }
  }

  test("out-of-order input is rejected loudly, never folded wrong") {
    import spark.implicits._
    val holt = graft.functions.HoltAffine.udafFor(0.5, 0.25)
    val ex = intercept[Exception] {
      fixture.repartition(5, $"event_id")
        .groupBy($"user_id")
        .agg(holt($"ts_us", $"event_id", $"value").as("h"))
        .collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)
    assert(messages(ex).exists(_.contains("HoltAffine")), s"unexpected error: $ex")
  }

  test("merge stitches key-contiguous partials: order-free, matches one pass") {
    val agg = new graft.functions.HoltAffine.Agg(0.5, 0.25)
    val xs = (1 to 100).map(i => ((i * 10).toLong, i.toLong, math.cos(i) * 10 + 20))
    val single = agg.finish(xs.foldLeft(agg.zero)(agg.reduce)).get
    val b1 = xs.take(37).foldLeft(agg.zero)(agg.reduce)
    val b2 = xs.drop(37).foldLeft(agg.zero)(agg.reduce)
    val m12 = agg.finish(agg.merge(b1, b2)).get
    val m21 = agg.finish(agg.merge(b2, b1)).get
    assert(m12 == m21, "merge order must not matter")
    // the stitch reassociates the matrix product chain — exact in real
    // arithmetic, bounded at the last few ulps in IEEE
    assert(math.abs(m12.level - single.level) <=
      1e-12 * math.max(1.0, math.abs(single.level)),
      s"stitched ${m12.level} vs one-pass ${single.level}")
    assert(math.abs(m12.trend - single.trend) <=
      1e-12 * math.max(1.0, math.abs(single.trend)),
      s"stitched ${m12.trend} vs one-pass ${single.trend}")
    assert(BigDecimal(m12.level).setScale(6, BigDecimal.RoundingMode.HALF_UP) ==
      BigDecimal(single.level).setScale(6, BigDecimal.RoundingMode.HALF_UP))
  }

  test("single-point series: level = the point, trend = 0, fc3 = the point") {
    import spark.implicits._
    val holt = graft.functions.HoltAffine.udafFor(0.5, 0.25)
    val one = Seq((1L, 10L, 1L, 42.5)).toDF("user_id", "ts_us", "event_id", "value")
      .groupBy($"user_id").agg(holt($"ts_us", $"event_id", $"value").as("h"))
      .select($"h.level", $"h.trend", $"h.fc3")
      .as[(Double, Double, Double)].head()
    assert(one == ((42.5, 0.0, 42.5)))
  }
}
