package graft

import org.apache.spark.sql.functions.{round, row_number}
import graft.engine.Extended

/** Semantic invariants for the round-2 Extended operators (value-level
  * correctness is the DuckDB oracle; these pin the properties the
  * oracle can't express: determinism, cross-query consistency, bounds). */
class ExtendedSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  test("q44 pivot cells sum to the unpivoted totals") {
    import spark.implicits._
    val p = Extended.queries("q44_pivot")(spark, dir)
    import org.apache.spark.sql.functions.coalesce
    import org.apache.spark.sql.functions.lit
    val pivotN = p.select((coalesce($"n_f", lit(0L)) + coalesce($"n_o", lit(0L)) +
        coalesce($"n_p", lit(0L))).as("n"))
      .agg(org.apache.spark.sql.functions.sum($"n")).as[Long].head()
    val total = graft.engine.Tables.orders(spark, dir).count()
    assert(pivotN == total, "pivot must partition all orders exactly once")
  }

  test("q46 distribution functions stay in bounds") {
    import spark.implicits._
    val d = Extended.queries("q46_ntile_dist")(spark, dir)
      .select($"quartile", $"pct_rank", $"cdist")
      .as[(Long, Double, Double)].collect()
    assert(d.forall { case (q, pr, cd) =>
      q >= 1 && q <= 4 && pr >= 0.0 && pr <= 1.0 && cd > 0.0 && cd <= 1.0
    })
  }

  test("q47 range frame counts at least the current row") {
    import spark.implicits._
    val bad = Extended.queries("q47_range_frame")(spark, dir)
      .filter($"n_1h" < 1).count()
    assert(bad == 0)
  }

  test("q49 hash sample is deterministic across runs and partitionings") {
    val a = Extended.queries("q49_hash_sample")(spark, dir).collect().toSeq
    val b = Extended.queries("q49_hash_sample")(spark, dir).collect().toSeq
    assert(a == b)
  }

  test("q65 q18-shape output is capped and ordered by totalprice desc") {
    import spark.implicits._
    val rows = Extended.queries("q65_tpch_q18")(spark, dir)
      .select($"o_totalprice").as[Double].collect()
    assert(rows.length <= 100)
    assert(rows.sameElements(rows.sortBy(-_)))
  }

  test("q242 q17-shape matches a literal correlated-subquery recompute") {
    import spark.implicits._
    val raw = graft.engine.Tables.lineitem(spark, dir)
      .join(graft.engine.Tables.part(spark, dir).filter($"p_brand" === "Brand#23"),
        $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_quantity".cast("long"))
      .as[(Long, Long)].collect()
    val byPart = raw.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // the defining form: qty < 0.2 * avg(qty per part), as exact integers
    val expectSmall = raw.count { case (pk, q) =>
      val vs = byPart(pk); q * 5 * vs.length < vs.sum
    }
    val (avgYearly, nSmall) = Extended.queries("q242_tpch_q17")(spark, dir)
      .as[(Option[Double], Long)].head() match { case (a, n) => (a, n) }
    assert(nSmall == expectSmall)
    if (nSmall > 0) assert(avgYearly.exists(_ > 0.0))
  }

  test("q243 q21-shape counts exactly the sole-late-supplier orders") {
    import spark.implicits._
    val rows = graft.engine.Tables.lineitem(spark, dir)
      .join(graft.engine.Tables.orders(spark, dir)
        .filter($"o_orderstatus" === "F"), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        ($"l_shipdate" > $"o_orderdate" + org.apache.spark.sql.functions
          .expr("INTERVAL 365 DAYS")).as("late"))
      .as[(Long, Long, Boolean)].collect()
    val qualifying = rows.groupBy(_._1).valuesIterator.flatMap { ls =>
      val supps = ls.map(_._2).distinct
      val lateSupps = ls.filter(_._3).map(_._2).distinct
      if (supps.length > 1 && lateSupps.length == 1) Some(lateSupps.head)
      else None
    }.toSeq
    val out = Extended.queries("q243_tpch_q21")(spark, dir)
      .select($"numwait").as[Long].collect()
    assert(out.sum <= qualifying.size) // top-20 cap
    assert(out.sameElements(out.sortBy(-_)))
    val totalDeclared = qualifying.groupBy(identity).size
    if (totalDeclared <= 20) assert(out.sum == qualifying.size)
  }

  test("q244 q20-shape suppliers each dominate at least one part") {
    import spark.implicits._
    val rows = graft.engine.Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey", $"l_quantity".cast("long"))
      .as[(Long, Long, Long)].collect()
    val dominant = rows.groupBy(_._1).valuesIterator.flatMap { ls =>
      val tot = ls.map(_._3).sum
      ls.groupBy(_._2).collect { case (sk, g) if g.map(_._3).sum * 5 > tot => sk }
    }.toSet
    val names = Extended.queries("q244_tpch_q20")(spark, dir)
      .select($"s_name").as[String].collect()
    val nameToKey = graft.engine.Tables.supplier(spark, dir)
      .select($"s_name", $"s_suppkey").as[(String, Long)].collect().toMap
    assert(names.toSet.map(nameToKey) == dominant)
    assert(names.sameElements(names.sorted))
  }

  test("q69 funnel stages are monotonically non-increasing") {
    import spark.implicits._
    val (s, v, f) = Extended.queries("q69_funnel")(spark, dir)
      .as[(Long, Long, Long)].head()
    assert(s >= v && v >= f, s"funnel must narrow: $s >= $v >= $f")
  }

  test("q117 counting quantiles equal sort-based percentile_disc") {
    import spark.implicits._
    // independent comparator: literally sort each group's values and
    // index at ceil(q·n) — the defining percentile_disc construction
    val byFlag = graft.engine.Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_quantity".cast("long"))
      .as[(String, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    def disc(vs: IndexedSeq[Long], q: Double): Long =
      vs(math.ceil(q * vs.size).toLong.toInt - 1)
    val rows = Extended.queries("q117_quantiles_nosort")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (flag, n, p50, p90, p99) =>
      val vs = byFlag(flag)
      assert(n == vs.size)
      assert(p50 == disc(vs, 0.5) && p90 == disc(vs, 0.9) && p99 == disc(vs, 0.99),
        s"$flag: ($p50,$p90,$p99) vs sorted " +
          s"(${disc(vs, 0.5)},${disc(vs, 0.9)},${disc(vs, 0.99)})")
    }
  }

  test("q183 correlated subqueries agree with a groupBy-join derivation") {
    import spark.implicits._
    val got = Extended.queries("q183_correlated_scalar")(spark, dir)
      .select($"o_orderkey", $"cents", $"cust_n", $"cust_cents",
        $"above_own_avg")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(got.nonEmpty)
    // the decorrelated formulation, hand-written
    val orders = graft.engine.Tables.orders(spark, dir)
      .filter($"o_custkey" < 50)
      .select($"o_orderkey", $"o_custkey",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .as[(Long, Long, Long)].collect()
    val byCust = orders.groupBy(_._2)
      .map { case (k, xs) => k -> (xs.length.toLong, xs.map(_._3).sum) }
    val exp = orders.map { case (ok, ck, c) =>
      val (n, s) = byCust(ck)
      (ok, c, n, s, c * n > s)
    }.sortBy(_._1)
    assert(got.sortBy(_._1).toSeq === exp.toSeq)
  }

  test("q184 lateral top-3 agrees with the window-rank formulation (q14's shape)") {
    import spark.implicits._
    val got = Extended.queries("q184_lateral_topk")(spark, dir)
      .select($"c_custkey", $"o_orderkey", $"rnk")
      .as[(Long, Long, Long)].collect().toSet
    assert(got.nonEmpty)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    val custs = graft.engine.Tables.customer(spark, dir)
      .filter($"c_custkey" < 100).select($"c_custkey".as("o_custkey"))
    val exp = graft.engine.Tables.orders(spark, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 3)
      .join(custs, "o_custkey")
      .select($"o_custkey", $"o_orderkey", $"rnk")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === exp)
  }
}
