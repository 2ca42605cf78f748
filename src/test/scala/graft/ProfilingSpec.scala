package graft

import org.apache.spark.sql.functions._

/** Properties of the data-quality family (q148-q152) beyond the
  * oracle's hash-equality: BPE greedy-merge semantics replayed
  * independently in JVM string ops, profiler metric invariants,
  * constraint-suite red/green split, and winsorization bounds. */
class ProfilingSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.01"

  test("q148's first merge is the true most-frequent adjacent char pair") {
    import spark.implicits._
    // independent recount: raw adjacent char pairs weighted by word
    // frequency, computed with a completely different formulation
    // (flatMap over collected words — fixture vocab is tiny)
    val words = graft.engine.Tables.documents(spark, dir)
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect()
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    for ((w, cnt) <- words; i <- 0 until w.length - 1) {
      val k = (w(i).toString, w(i + 1).toString)
      pairCounts(k) = pairCounts.getOrElse(k, 0L) + cnt
    }
    val expected = pairCounts.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.head
    val got = SparkEntry.queries("q148_bpe_train")(spark, dir)
      .filter($"merge_rank" === 1L)
      .select($"left_sym", $"right_sym", $"pair_count")
      .as[(String, String, Long)].head()
    assert((got._1, got._2) === expected._1)
    assert(got._3 === expected._2)
  }

  test("q149 subword counts replay via JVM greedy replace on the merge table") {
    import spark.implicits._
    val merges = SparkEntry.queries("q148_bpe_train")(spark, dir)
      .orderBy($"merge_rank")
      .select($"left_sym", $"right_sym").as[(String, String)].collect()
    val docs = graft.engine.Tables.documents(spark, dir)
      .filter($"doc_id" < 10L).select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val q149 = SparkEntry.queries("q149_bpe_apply")(spark, dir)
      .filter($"doc_id" < 10L)
      .select($"doc_id", $"n_subwords").as[(Long, Long)].collect().toMap
    for ((id, text) <- docs) {
      val subwords = text.trim.split("\\s+").filter(_.nonEmpty).map { w =>
        var seq = w.map(c => s"[$c]").mkString
        for ((a, b) <- merges) // String.replace = non-overlapping L-to-R
          seq = seq.replace(s"[$a][$b]", s"[$a$b]")
        seq.count(_ == '[').toLong
      }.sum
      assert(q149(id) === subwords, s"doc $id")
    }
  }

  test("BPE apply never increases symbol count and compression is consistent") {
    import spark.implicits._
    val rows = SparkEntry.queries("q149_bpe_apply")(spark, dir)
      .select($"n_chars_sym", $"n_subwords", $"compression")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (chars, sub, comp) =>
      assert(sub <= chars && sub > 0)
      // trunc6 semantics: floor(x·1e6)/1e6 (cross-engine-stable device)
      assert(math.abs(comp - math.floor(sub.toDouble / chars * 1e6) / 1e6) < 1e-9)
    }
  }

  test("profiler metrics satisfy the structural invariants") {
    import spark.implicits._
    val rows = SparkEntry.queries("q150_table_profile")(spark, dir).collect()
    assert(rows.length === 6)
    val n = rows.head.getAs[Long]("n_rows")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") === n)
      assert(r.getAs[Long]("null_count") >= 0 && r.getAs[Long]("null_count") <= n)
      assert(r.getAs[Long]("distinct_count") <= n)
    }
    val byCol = rows.map(r => r.getAs[String]("col_name") -> r).toMap
    // PK column: all distinct, no nulls
    assert(byCol("o_orderkey").getAs[Long]("distinct_count") === n)
    assert(byCol("o_orderkey").getAs[Long]("null_count") === 0L)
    assert(byCol("o_orderkey").getAs[Double]("min_num") <=
      byCol("o_orderkey").getAs[Double]("max_num"))
    assert(byCol("o_orderstatus").getAs[Long]("distinct_count") === 3L)
  }

  test("constraint suite: the deliberate range check fails, the rest pass") {
    import spark.implicits._
    val rows = SparkEntry.queries("q151_constraint_checks")(spark, dir)
      .select($"check_name", $"violations", $"passed")
      .as[(String, Long, Boolean)].collect().toSeq
    val byName = rows.map(r => r._1 -> r).toMap
    assert(rows.length === 6)
    assert(!byName("range_l_discount_le_008")._3 &&
      byName("range_l_discount_le_008")._2 > 0L)
    rows.filterNot(_._1 == "range_l_discount_le_008").foreach { case (nm, v, p) =>
      assert(p && v === 0L, s"$nm expected green")
    }
  }

  test("incremental profile (stored partials + delta) equals a direct one-shot profile") {
    import spark.implicits._
    import org.apache.spark.sql.functions.udaf
    val direct = {
      val hll = udaf(new graft.engine.Sketches.Hll)
      graft.engine.Tables.orders(spark, dir)
        .select($"o_custkey",
          round($"o_totalprice" * 100.0).cast("long").as("cents"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count($"o_custkey")).as("null_custkey"),
          (sum($"cents").cast("double") / 100.0).as("sum_price"),
          (min($"cents").cast("double") / 100.0).as("min_price"),
          (max($"cents").cast("double") / 100.0).as("max_price"),
          hll(md5($"o_custkey".cast("string"))).as("st"))
        .select($"n_rows", $"null_custkey", $"sum_price", $"min_price",
          $"max_price", element_at($"st", 1).as("cust_zero_regs"),
          element_at($"st", 2).as("cust_sum_scaled"))
        .head()
    }
    val inc = SparkEntry.queries("q156_incremental_profile")(spark, dir)
      .drop("cust_raw_est").head()
    assert(inc === direct)
  }

  test("BFS layers: source at 0, every deeper node has a parent witness one layer up") {
    import spark.implicits._
    val bfs = SparkEntry.queries("q153_bfs_layers")(spark, dir)
      .select($"id", $"dist").as[(Long, Long)].collect().toMap
    assert(bfs(1L) === 0L)
    assert(bfs.values.max <= 10L && bfs.size > 100)
    // independent adjacency recomputation for the witness check
    def nbrs(u: Long): Seq[Long] = {
      val parents = Seq(u / 2, u / 3).filter(p => p >= 1 && p != u)
      val children = bfs.keys.filter(c => c / 2 == u || c / 3 == u).toSeq
      (parents ++ children).distinct
    }
    bfs.foreach { case (id, d) =>
      if (d > 0)
        assert(nbrs(id).exists(nb => bfs.get(nb).contains(d - 1)),
          s"node $id at layer $d has no neighbor at ${d - 1}")
    }
  }

  test("kNN vote counts are within k and `correct` is consistent") {
    import spark.implicits._
    val rows = SparkEntry.queries("q154_knn_classify")(spark, dir)
      .select($"true_label", $"pred_label", $"votes", $"correct")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(rows.length === 20)
    rows.foreach { case (t, p, v, c) =>
      assert(v >= 1L && v <= 5L)
      assert(c === (t == p))
    }
  }

  test("equi-depth buckets: equal depths (±1), ordered non-overlapping ranges") {
    import spark.implicits._
    val rows = SparkEntry.queries("q155_equidepth_hist")(spark, dir)
      .select($"bucket", $"n_rows", $"lo", $"hi", $"ndv")
      .as[(Long, Long, Double, Double, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to 8L))
    val n = rows.map(_._2).sum
    assert(n === graft.engine.Tables.orders(spark, dir).count())
    rows.foreach { case (_, rn, lo, hi, ndv) =>
      assert(rn == n / 8 || rn == n / 8 + 1)
      assert(lo <= hi && ndv >= 1L && ndv <= rn)
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3, s"bucket ${a._1} hi ${a._4} > bucket ${b._1} lo ${b._3}")
    }
  }

  test("SSSP replays exactly via JVM bounded Bellman-Ford, dist >= hops") {
    import spark.implicits._
    val sssp = SparkEntry.queries("q157_sssp_weighted")(spark, dir)
      .select($"id", $"dist").as[(Long, Long)].collect().toMap
    assert(sssp(1L) === 0L)
    val custs = graft.engine.Tables.customer(spark, dir)
      .select($"c_custkey").as[Long].collect()
    val edges = custs.flatMap(u => Seq(u / 2, u / 3)
      .filter(p => p >= 1 && p != u)
      .map(p => (math.min(u, p), math.max(u, p)))).distinct
    val adj: Map[Long, Seq[(Long, Long)]] = edges.toSeq.flatMap {
      case (lo, hi) =>
        val w = 1L + (lo + hi) % 7L
        Seq((lo, (hi, w)), (hi, (lo, w)))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // d_r(v) = min cost over paths of <= r edges; 10 rounds
    var best: Map[Long, Long] = Map(1L -> 0L)
    for (_ <- 1 to 10) {
      val relaxed: Map[Long, Long] = best.toSeq.flatMap { case (v, d) =>
        adj.getOrElse(v, Seq.empty[(Long, Long)])
          .map { case (nb, w) => (nb, d + w) }
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
      best = (best.keySet ++ relaxed.keySet).map { v =>
        v -> math.min(best.getOrElse(v, Long.MaxValue),
          relaxed.getOrElse(v, Long.MaxValue))
      }.toMap
    }
    assert(sssp === best)
    // weights are >= 1, so cost dominates hop count on the same graph
    val bfs = SparkEntry.queries("q153_bfs_layers")(spark, dir)
      .select($"id", $"dist").as[(Long, Long)].collect().toMap
    sssp.foreach { case (id, d) =>
      assert(d >= bfs(id), s"node $id: cost $d < hops ${bfs(id)}")
    }
  }

  test("onion layers replay exactly via JVM peeling") {
    import spark.implicits._
    val got = SparkEntry.queries("q158_onion_layers")(spark, dir)
      .select($"id", $"layer", $"deg0").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val custs = graft.engine.Tables.customer(spark, dir)
      .select($"c_custkey").as[Long].collect()
    var edges = custs.flatMap(u => Seq(u / 2, u / 3, u / 5)
      .filter(p => p >= 1 && p != u)
      .map(p => (math.min(u, p), math.max(u, p)))).distinct.toSet
    val deg0 = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    var layer = Map.empty[Long, Long]
    var alive = deg0.keySet
    for (i <- 1 to 12) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val keep = alive.filter(v => deg.getOrElse(v, 0) >= 4)
      (alive -- keep).foreach(v => layer += v -> i.toLong)
      edges = edges.filter(e => keep(e._1) && keep(e._2))
      alive = keep
    }
    alive.foreach(v => layer += v -> 99L)
    assert(got.keySet === layer.keySet)
    got.foreach { case (id, (l, d0)) =>
      assert(l === layer(id), s"node $id layer")
      assert(d0 === deg0(id), s"node $id deg0")
    }
  }

  test("skyline: members are mutually undominated, non-members dominated by a member") {
    import spark.implicits._
    val parts = graft.engine.Tables.part(spark, dir)
      .select($"p_partkey", round($"p_retailprice" * 100.0).cast("long"),
        $"p_size".cast("long")).as[(Long, Long, Long)].collect()
    val sky = SparkEntry.queries("q159_skyline")(spark, dir)
      .select($"p_partkey").as[Long].collect().toSet
    def dominates(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean =
      a._2 <= b._2 && a._3 >= b._3 && (a._2 < b._2 || a._3 > b._3)
    val members = parts.filter(p => sky(p._1))
    assert(members.nonEmpty)
    for (m <- members; o <- parts)
      assert(!dominates(o, m), s"member ${m._1} dominated by ${o._1}")
    for (p <- parts if !sky(p._1))
      assert(members.exists(m => dominates(m, p)),
        s"non-member ${p._1} not dominated by any member")
  }

  test("Naive Bayes predictions replay exactly via JVM counting") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
    def toks(t: String): Seq[String] =
      t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    def rnd(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else -math.floor(-x + 0.5).toLong
    val train = docs.filter(_._1 % 5 != 0)
    val cwl = scala.collection.mutable.Map.empty[(String, String), Long]
    val cl = scala.collection.mutable.Map.empty[String, Long]
    val vocab = scala.collection.mutable.Set.empty[String]
    val nd = scala.collection.mutable.Map.empty[String, Long]
    train.foreach { case (_, l, t) =>
      nd(l) = nd.getOrElse(l, 0L) + 1
      toks(t).foreach { w =>
        cwl((l, w)) = cwl.getOrElse((l, w), 0L) + 1
        cl(l) = cl.getOrElse(l, 0L) + 1
        vocab += w
      }
    }
    val v = vocab.size.toLong
    val ndtot = nd.values.sum
    val labels = cl.keys.toSeq.sorted
    val lp0 = labels.map(l => l -> rnd(math.log(1.0 / (cl(l) + v)) * 1e6)).toMap
    val prior = labels.map(l =>
      l -> rnd(math.log(nd(l).toDouble / ndtot.toDouble) * 1e6)).toMap
    val got = SparkEntry.queries("q160_naive_bayes")(spark, dir)
      .select($"doc_id", $"actual_lang", $"pred_lang", $"score_micro", $"correct")
      .as[(Long, String, String, Long, Boolean)].collect()
    assert(got.length === docs.count(_._1 % 5 == 0))
    val byId = docs.map(d => d._1 -> d).toMap
    got.foreach { case (id, actual, pred, score, correct) =>
      val (_, lang, text) = byId(id)
      assert(actual === lang)
      val counts = toks(text).groupBy(identity).map { case (k, s) => k -> s.size.toLong }
      val sc = labels.map { c =>
        c -> (prior(c) + counts.map { case (w, k) =>
          k * cwl.get((c, w)).map(cc =>
            rnd(math.log((cc + 1).toDouble / (cl(c) + v).toDouble) * 1e6))
            .getOrElse(lp0(c))
        }.sum)
      }.toMap
      val mx = sc.values.max
      assert(score === mx, s"doc $id score")
      assert(pred === labels.filter(sc(_) == mx).min, s"doc $id pred")
      assert(correct === (pred == actual))
    }
  }

  test("AUC u2 equals the brute-force tie-aware pair count") {
    import spark.implicits._
    val tiny = "/root/testdata/sf0.001"
    val row = SparkEntry.queries("q161_auc")(spark, tiny)
      .select($"npos", $"nneg", $"u2", $"auc")
      .as[(Long, Long, Long, Double)].head()
    val scored = graft.engine.Tables.orders(spark, tiny)
      .select(round($"o_totalprice" * 100.0).cast("long"),
        ($"o_orderstatus" === "F").cast("boolean"))
      .as[(Long, Boolean)].collect()
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    assert(row._1 === pos.length.toLong && row._2 === neg.length.toLong)
    var u2 = 0L
    for (p <- pos; n <- neg)
      u2 += (if (p > n) 2L else if (p == n) 1L else 0L)
    assert(row._3 === u2)
    assert(math.abs(row._4 - u2.toDouble / (2.0 * pos.length * neg.length)) < 1e-6)
  }

  test("lift deciles: JVM replay downstream of the engine's own scores") {
    import spark.implicits._
    val tiny = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q174_lift_deciles")(spark, tiny)
      .select($"decile", $"n", $"n_pos", $"pos_rate", $"lift")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1)
    // rebuild the scored stream with the same kernel + round, then
    // replay rank → decile → lift entirely in JVM collections
    val cos = graft.functions.CosineSimilarity.cosineSim(spark) _
    val emb = graft.engine.Tables.embeddings(spark, tiny)
    val probe = emb.filter($"vec_id" === 0L).select($"embedding".as("pe"))
    val scored = emb.filter($"vec_id" =!= 0L)
      .crossJoin(broadcast(probe))
      .select($"vec_id", ($"label" === 0).cast("long"),
        round(cos($"pe", $"embedding"), 6))
      .as[(Long, Long, Double)].collect()
    val nn = scored.length.toLong
    val pp = scored.map(_._2).sum
    val ranked = scored.sortBy { case (id, _, s) => (-s, id) }.zipWithIndex
    val expected = ranked
      .groupBy { case (_, i) => i.toLong * 10L / nn }
      .map { case (d, rows) =>
        val n = rows.length.toLong
        val np = rows.map(_._1._2).sum
        (d, n, np)
      }.toSeq.sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq == expected)
    // structural invariants: deciles tile the corpus, rates consistent
    assert(got.map(_._2).sum == nn && got.map(_._3).sum == pp)
    got.foreach { case (_, n, np, rate, lift) =>
      assert(math.abs(rate - np.toDouble / n) < 1e-6)
      assert(math.abs(lift - (np * nn).toDouble / (n * pp)) < 1e-6)
    }
  }

  test("chi2: margins add up and the statistic matches a JVM recompute") {
    import spark.implicits._
    val rows = SparkEntry.queries("q162_chi2")(spark, dir)
      .select($"obs", $"expected", $"term_micro", $"chi2_micro")
      .as[(Long, Double, Long, Long)].collect()
    assert(rows.length === 6)
    assert(rows.map(_._3).sum === rows.head._4)
    val n = rows.map(_._1).sum
    assert(n === graft.engine.Tables.lineitem(spark, dir).count())
    // expected cell counts reconstruct the grand total
    assert(math.abs(rows.map(_._2).sum - n.toDouble) < 1e-3)
    rows.foreach { case (obs, exp, tm, _) =>
      val t = (obs - exp) * (obs - exp) / exp * 1e6
      assert(math.abs(t - tm) < 2000, s"term $tm vs recompute $t") // rounding grains differ
    }
  }

  test("mutual information: micro-nat cells and total replay in JVM") {
    import spark.implicits._
    val got = SparkEntry.queries("q175_mutual_info")(spark, dir)
      .select($"l_returnflag", $"l_linestatus", $"obs", $"pmi_micro", $"mi_nats")
      .as[(String, String, Long, Long, Double)].collect()
    val cells = graft.engine.Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus").agg(count(lit(1)).as("c"))
      .as[(String, String, Long)].collect()
    val n = cells.map(_._3).sum
    val rt = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val ct = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val pmi = cells.map { case (f, st, obs) =>
      (f, st) -> math.round(math.log((obs * n).toDouble /
        (rt(f) * ct(st)).toDouble) * 1e6)
    }.toMap
    val miTotal = cells.map { case (f, st, obs) => obs * pmi((f, st)) }.sum
    got.foreach { case (f, st, obs, pm, mi) =>
      assert(pm == pmi((f, st)), s"cell ($f,$st) pmi: $pm vs ${pmi((f, st))}")
      assert(math.abs(mi - miTotal.toDouble / (n.toDouble * 1e6)) < 1e-6)
      // independence sanity: a cell's sign says over/under-represented
      assert(obs > 0L)
    }
    // MI is non-negative up to micro-nat rounding of each cell
    assert(miTotal.toDouble / (n.toDouble * 1e6) > -1e-4)
  }

  test("association rules replay via JVM basket counting") {
    import spark.implicits._
    val oi = graft.engine.Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
    val nOrders = oi.map(_._1).distinct.length.toLong
    val supp = oi.groupBy(_._2).map { case (i, v) => i -> v.length.toLong }
    val byOrder = oi.groupBy(_._1).map { case (_, v) => v.map(_._2).sorted }
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byOrder.foreach { items =>
      for (x <- items.indices; y <- x + 1 until items.length)
        pairCnt((items(x), items(y))) =
          pairCnt.getOrElse((items(x), items(y)), 0L) + 1
    }
    val rules = pairCnt.toSeq.filter(_._2 >= 3L).flatMap { case ((a, b), s) =>
      Seq((a, b, s), (b, a, s))
    }.map { case (ant, cons, s) =>
      val lift = nOrders.toDouble * s / (supp(ant).toDouble * supp(cons))
      (ant, cons, s, supp(ant), supp(cons), s.toDouble / supp(ant), lift)
    }.sortBy(r => (-r._7, r._1, r._2)).take(30)
    val got = SparkEntry.queries("q163_assoc_rules")(spark, dir)
      .select($"ant", $"cons", $"s_ab", $"s_ant", $"s_cons",
        $"confidence", $"lift")
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(got.length === 30)
    got.zip(rules).foreach { case (g, e) =>
      assert((g._1, g._2, g._3, g._4, g._5) === ((e._1, e._2, e._3, e._4, e._5)))
      assert(math.abs(g._6 - e._6) < 1e-6 && math.abs(g._7 - e._7) < 1e-6)
    }
  }

  test("MAD outliers: exact medians replay in JVM, gate bounds hold") {
    import spark.implicits._
    val li = graft.engine.Tables.lineitem(spark, dir)
      .select($"l_returnflag", round($"l_extendedprice" * 100.0).cast("long"))
      .as[(String, Long)].collect()
    def lowerMedian(vs: Seq[Long]): Long = {
      val sorted = vs.sorted
      sorted(((vs.length + 1) / 2) - 1)
    }
    val got = SparkEntry.queries("q164_mad_outliers")(spark, dir)
      .select($"l_returnflag", $"n_items", $"median_price", $"mad", $"n_outliers")
      .as[(String, Long, Double, Double, Long)].collect()
    assert(got.length === 3)
    got.foreach { case (flag, n, med, mad, out) =>
      val vs = li.filter(_._1 == flag).map(_._2).toSeq
      assert(n === vs.length.toLong)
      val medc = lowerMedian(vs)
      assert(med === medc.toDouble / 100.0, s"$flag median")
      val madc = lowerMedian(vs.map(v => math.abs(v - medc)))
      assert(mad === madc.toDouble / 100.0, s"$flag mad")
      assert(out === vs.count(v => math.abs(v - medc) > 3 * madc).toLong)
      assert(out < n)
    }
  }

  test("key-skew Gini matches the raw-rank JVM recompute") {
    import spark.implicits._
    val counts = graft.engine.Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey").count()
      .select($"count").as[Long].collect().sorted
    val k = counts.length.toLong
    val s = counts.sum
    val sic = counts.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
    val gini = 2.0 * sic / (k.toDouble * s.toDouble) - (k + 1).toDouble / k
    val row = SparkEntry.queries("q165_key_skew_gini")(spark, dir)
      .select($"n_keys", $"n_rows", $"cnt_max", $"gini")
      .as[(Long, Long, Long, Double)].head()
    assert(row._1 === k && row._2 === s && row._3 === counts.max)
    assert(math.abs(row._4 - gini) < 1e-6)
    assert(row._4 > 0.0 && row._4 < 1.0)
  }

  test("CMS join-size estimate: est >= exact, inner products replay in JVM") {
    import spark.implicits._
    val row = SparkEntry.queries("q166_join_size_cms")(spark, dir)
      .select($"exact_size", $"est0", $"est1", $"est", $"blowup")
      .as[(Long, Long, Long, Long, Double)].head()
    assert(row._4 === math.min(row._2, row._3))
    assert(row._4 >= row._1, "CMS inner product must overestimate")
    // exact join size from per-key counts
    val lc = graft.engine.Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey").count().as[(Long, Long)].collect().toMap
    val oc = graft.engine.Tables.orders(spark, dir)
      .groupBy($"o_orderkey").count().as[(Long, Long)].collect().toMap
    val exact = lc.map { case (k, c) => c * oc.getOrElse(k, 0L) }.sum
    assert(row._1 === exact)
    assert(row._5 >= 1.0 && math.abs(row._5 - row._4.toDouble / exact) < 1e-6)
  }

  test("greedy coverage: gains non-increasing, totals telescope, replay matches") {
    import spark.implicits._
    val picks = SparkEntry.queries("q167_greedy_coverage")(spark, dir)
      .select($"pick_round", $"doc_id", $"gain", $"covered_total")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(picks.map(_._1).toSeq === (1L to 5L))
    assert(picks.map(_._2).distinct.length === 5)
    picks.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, "greedy marginal gains must be non-increasing")
    }
    assert(picks.map(_._3).sum === picks.last._4)
    // full JVM replay of the greedy loop
    val docsSh = {
      val d = graft.engine.Tables.documents(spark, dir)
        .select($"doc_id", $"text").as[(Long, String)].collect()
      d.map { case (id, t) =>
        val ws = t.trim.split("\\s+").toSeq
        id -> ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
    }
    var covered = Set.empty[String]
    var chosen = Set.empty[Long]
    picks.foreach { case (_, doc, gain, totalAfter) =>
      val gains = docsSh.filter(p => !chosen(p._1))
        .map { case (id, s) => id -> (s -- covered).size.toLong }
      val bestGain = gains.values.max
      val bestDoc = gains.filter(_._2 == bestGain).keys.min
      assert(doc === bestDoc && gain === bestGain, s"round pick $doc")
      covered ++= docsSh(doc)
      chosen += doc
      assert(totalAfter === covered.size.toLong)
    }
  }

  test("winsorized mean sits inside [p05, p95] and differs from the raw mean") {
    import spark.implicits._
    val rows = SparkEntry.queries("q152_winsorized_stats")(spark, dir)
      .select($"n_items", $"p05", $"p95", $"mean_price", $"winsorized_mean")
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(rows.length === 3)
    val total = rows.map(_._1).sum
    val liCount = graft.engine.Tables.lineitem(spark, dir).count()
    assert(total === liCount)
    rows.foreach { case (_, p05, p95, mean, wmean) =>
      assert(p05 <= p95)
      assert(wmean >= p05 - 1e-9 && wmean <= p95 + 1e-9)
      assert(math.abs(wmean - mean) > 1e-9) // the tail trim did something
    }
  }

  test("q180 ANOVA terms and eta2 replay from the raw daily series") {
    import spark.implicits._
    // the Exact.scaled device rounds; replicate via round on double
    val exact = graft.engine.Tables.events(spark, dir)
      .select(($"user_id" % 8L).as("shard"), to_date($"ts").as("d"),
        round($"value" * 100).cast("long").as("sv"))
      .groupBy($"shard", $"d").agg(sum($"sv").as("c"))
      .as[(Long, java.sql.Date, Long)].collect()
    val got = SparkEntry.queries("q180_weekday_seasonal")(spark, dir)
      .select($"shard", $"weekday0", $"n_days", $"ssb_term_micro", $"eta2")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.nonEmpty && exact.nonEmpty)
    exact.groupBy(_._1).foreach { case (shard, rows) =>
      val n = rows.length.toLong
      val s = rows.map(_._3).sum
      val sstMicro = rows.map { case (_, _, c) =>
        val e = (c * n - s).toDouble
        math.round(e * e / (n.toDouble * n.toDouble * 1e4) * 1e6)
      }.sum
      val byW = rows.groupBy { case (_, d, _) =>
        (d.toLocalDate.getDayOfWeek.getValue - 1).toLong // Monday=0
      }
      var ssbMicro = 0L
      byW.foreach { case (w, wrows) =>
        val nW = wrows.length.toLong
        val sW = wrows.map(_._3).sum
        val dd = (sW * n - s * nW).toDouble
        val term = math.round(
          dd * dd / (nW.toDouble * n.toDouble * n.toDouble * 1e4) * 1e6)
        val (gotN, gotTerm, _) = got((shard, w))
        assert(gotN === nW, s"shard $shard weekday $w n_days")
        assert(gotTerm === term, s"shard $shard weekday $w ssb term")
        ssbMicro += term
      }
      val expEta = if (sstMicro == 0) 0.0
        else math.floor(ssbMicro.toDouble / sstMicro.toDouble * 1e6) / 1e6
      byW.keys.foreach { w =>
        assert(math.abs(got((shard, w))._3 - expEta) < 1e-9, s"shard $shard eta2")
      }
      assert(expEta >= 0.0 && expEta <= 1.0 + 1e-6)
    }
  }

  test("q188 BOM rollup replays via bottom-up JVM recursion over children") {
    import spark.implicits._
    val ids = graft.engine.Tables.customer(spark, dir)
      .select($"c_custkey".cast("long")).as[Long].collect().sorted
    val children = ids.filter(_ > 1).groupBy(_ / 2)
    val memo = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    // (n_desc, rollup): child-recursive — the OPPOSITE direction from
    // the engine's ancestor-enumeration fold
    def roll(u: Long): (Long, Long) = memo.getOrElseUpdate(u, {
      val own = (u % 100) + 1
      val kids = children.getOrElse(u, Array.empty[Long])
        .filter(k => k != u) // u=1 lists itself as child of 0 only; guard
      val sub = kids.map { k =>
        val (nd, rc) = roll(k)
        val qty = 1 + k % 3
        (nd + 1, qty * rc)
      }
      (sub.map(_._1).sum, own + sub.map(_._2).sum)
    })
    val got = SparkEntry.queries("q188_bom_rollup")(spark, dir)
      .select($"node", $"own_cost", $"n_desc", $"rollup_cost")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === ids.length)
    got.foreach { case (node, own, nd, rc) =>
      assert(own === (node % 100) + 1)
      val (en, er) = roll(node)
      assert(nd === en, s"node $node n_desc")
      assert(rc === er, s"node $node rollup")
    }
  }

  test("q185 Poisson weights replay via JVM md5; CI brackets the point mean") {
    import spark.implicits._
    val rows = SparkEntry.queries("q185_poisson_bootstrap")(spark, dir)
      .select($"replicate", $"n_eff", $"sum_cents", $"mean_b",
        $"ci_lo", $"ci_hi", $"point_mean")
      .collect()
    assert(rows.length === 16)
    val n = graft.engine.Tables.orders(spark, dir).count()
    val t = graft.engine.Profiling.poisson1Thresholds
    // per-replicate effective n concentrates around n: Var(Σw) = n for
    // Poisson(1), so 6σ bounds are generous and deterministic-safe
    rows.foreach { r =>
      val nEff = r.getLong(1)
      assert(math.abs(nEff - n) <= 6 * math.sqrt(n.toDouble) + 1)
      assert(r.getDouble(4) <= r.getDouble(5), "ci_lo <= ci_hi")
      assert(r.getDouble(6) >= r.getDouble(4) - 1e-6 &&
        r.getDouble(6) <= r.getDouble(5) + 1e-6,
        "point mean inside the 2nd..15th rank CI")
    }
    // replay replicate 3's weights for the first 200 orders in JVM md5
    val md = java.security.MessageDigest.getInstance("MD5")
    def weight(key: Long, b: Long): Long = {
      val hex = md.digest(s"$key:bs$b".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = java.lang.Long.parseLong(hex, 16)
      val i = t.indexWhere(u < _)
      if (i < 0) 7L else i.toLong
    }
    val sample = graft.engine.Tables.orders(spark, dir)
      .select($"o_orderkey",
        round($"o_totalprice" * 100).cast("long")).as[(Long, Long)]
      .collect()
    val expN = sample.map { case (k, _) => weight(k, 3) }.sum
    val expS = sample.map { case (k, c) => weight(k, 3) * c }.sum
    val r3 = rows.find(_.getLong(0) == 3L).get
    assert(r3.getLong(1) === expN)
    assert(r3.getLong(2) === expS)
  }

  test("q181 semi-synchronous LPA replays in a JVM half-round simulation") {
    import spark.implicits._
    val ids = graft.engine.Tables.customer(spark, dir)
      .select($"c_custkey".cast("long")).as[Long].collect()
    val rawE = ids.flatMap(u => Seq((u, u / 2), (u, u / 3)))
      .filter { case (u, p) => p >= 1 && p != u }
    val und = rawE.map { case (u, p) => (math.min(u, p), math.max(u, p)) }.distinct
    val nbr = (und ++ und.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (id, es) => id -> es.map(_._2).toSeq }
    var labels: Map[Long, Long] = nbr.keys.map(id => id -> id).toMap
    for (r <- 1 to 4) {
      val par = r % 2
      val upd = nbr.collect { case (id, nbs) if id % 2 == par =>
        val counts = nbs.map(labels).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        val best = counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        id -> best
      }
      labels = labels ++ upd
    }
    val got = SparkEntry.queries("q181_label_prop_semi")(spark, dir)
      .select($"id", $"label", $"community_size")
      .as[(Long, Long, Long)].collect()
    assert(got.length === labels.size)
    val sizes = labels.values.groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
    got.foreach { case (id, lab, cs) =>
      assert(lab === labels(id), s"node $id label")
      assert(cs === sizes(lab), s"node $id community size")
    }
  }

  test("semi-sync LPA converges on an even cycle where synchronous oscillates") {
    // the scheduling rationale, shown on the adversarial structure:
    // a 2-colorable cycle. Synchronous updates swap the two colorings
    // forever; alternating halves reach a fixpoint.
    val n = 8
    val nbr = (0 until n).map(i => i -> Seq((i + n - 1) % n, (i + 1) % n)).toMap
    def argmax(nbs: Seq[Int], labels: Map[Int, Int]): Int =
      nbs.map(labels).groupBy(identity).map { case (l, xs) => (l, xs.size) }
        .toSeq.sortBy { case (l, c) => (-c, l) }.head._1
    // start from the 2-coloring — the sync-LPA trap state
    val init: Map[Int, Int] = (0 until n).map(i => i -> (i % 2)).toMap
    // synchronous: all nodes update at once → the colorings swap forever
    var sync = init
    val states = scala.collection.mutable.ListBuffer[Map[Int, Int]](sync)
    for (_ <- 1 to 8) {
      sync = nbr.map { case (id, nbs) => id -> argmax(nbs, sync) }
      states += sync
    }
    assert(states.last != states(states.size - 2), "sync must not settle")
    assert(states.last == states(states.size - 3), "period-2 oscillation")
    // semi-synchronous: parity halves alternate → fixpoint
    var semi = init
    var prev = semi
    var semiFix = false
    for (r <- 1 to 8 if !semiFix) {
      val par = r % 2
      semi = semi ++ nbr.collect { case (id, nbs) if id % 2 == par =>
        id -> argmax(nbs, semi)
      }
      if (r >= 2 && semi == prev) semiFix = true
      prev = semi
    }
    assert(semiFix, "semi-synchronous schedule must reach a fixpoint")
  }

  test("pointer doubling: root is 1 and depth replays the JVM parent walk") {
    import spark.implicits._
    val pd = SparkEntry.queries("q191_pointer_doubling")(spark, dir)
      .select($"id", $"root", $"depth").as[(Long, Long, Long)].collect()
    assert(pd.length === 1500)
    pd.foreach { case (id, root, d) =>
      // node 0 is its own isolated root (⌊0/2⌋ = 0); every other
      // chain terminates at node 1
      assert(root === (if (id == 0L) 0L else 1L), s"node $id root $root")
      var cur = id; var steps = 0L
      while (cur > 1) { cur = cur / 2; steps += 1 }
      assert(d === steps, s"node $id depth $d != walk $steps")
    }
  }

  test("peak concurrency: sweep equals brute-force overlap count at the peak") {
    import spark.implicits._
    val res = SparkEntry.queries("q192_peak_concurrency")(spark, dir)
      .select($"shard", $"peak_open", $"peak_day".cast("string"))
      .as[(Long, Long, String)].collect()
    assert(res.nonEmpty)
    val iv = graft.engine.Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R" && year($"l_shipdate") === 1996)
      .select(($"l_suppkey" % 8L).as("sh"),
        to_date($"l_shipdate").cast("string").as("s"),
        expr("date_add(to_date(l_shipdate), CAST(1 + (l_suppkey + l_orderkey) % 14 AS INT))")
          .cast("string").as("e"))
      .as[(Long, String, String)].collect()
    val byShard = iv.groupBy(_._1)
    res.foreach { case (shard, peak, peakDay) =>
      val ivs = byShard(shard)
      val days = (ivs.map(_._2) ++ ivs.map(_._3)).distinct
      // ISO date strings compare lexicographically
      val best = days.map(d => (ivs.count(i => i._2 <= d && d < i._3), d))
        .sortBy { case (c, d) => (-c, d) }.head
      assert(peak === best._1.toLong, s"shard $shard")
      assert(peakDay === best._2, s"shard $shard argmax day")
    }
  }

  test("Cohen's kappa replays from a raw JVM contingency and sits in [-1, 1]") {
    import spark.implicits._
    val rows = SparkEntry.queries("q194_cohens_kappa")(spark, dir)
      .select($"ra", $"rb", $"obs", $"n", $"agree", $"pe_num", $"kappa")
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val docs = graft.engine.Tables.documents(spark, dir)
      .select($"text").as[String].collect()
    def hits(padded: String, w: String): Long =
      ((padded.length - padded.replace(s" $w ", " ").length) / (w.length + 1)).toLong
    val pairs = docs.map { text =>
      val padded = s" $text "
      val nc = text.length.toLong
      val nt = text.trim.split("\\s+").length.toLong
      val sh = hits(padded, "the") + hits(padded, "a") + hits(padded, "of")
      val ra = if (nc < 220) 0L else if (nc < 380) 1L else 2L
      val rb = if (sh * 1000 < nt * 45) 0L else if (sh * 1000 < nt * 70) 1L else 2L
      (ra, rb)
    }
    val cells = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    rows.foreach { case (ra, rb, obs, _, _, _, _) =>
      assert(cells((ra, rb)) === obs, s"cell ($ra,$rb)")
    }
    val n = pairs.length.toLong
    val agree = pairs.count { case (a, b) => a == b }.toLong
    val rm = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val cm = pairs.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val peNum = rm.keys.toSeq.intersect(cm.keys.toSeq)
      .map(i => rm(i) * cm(i)).sum
    val kappa = (n * agree - peNum).toDouble / (n * n - peNum).toDouble
    rows.foreach { case (_, _, _, rn, rAgree, rPe, rKappa) =>
      assert(rn === n && rAgree === agree && rPe === peNum)
      assert(math.abs(rKappa - kappa) < 1e-6)
      assert(rKappa >= -1.0 && rKappa <= 1.0)
    }
  }

  test("vocabulary growth: cumulative counts replay and the curve is sane") {
    import spark.implicits._
    val rows = SparkEntry.queries("q195_vocab_growth")(spark, dir)
      .select($"bucket", $"n_tokens", $"n_new_terms", $"cum_tokens", $"cum_vocab")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    // cumulative columns really accumulate the per-bucket columns
    var ct = 0L; var cv = 0L
    rows.foreach { case (_, nt, nn, cumT, cumV) =>
      ct += nt; cv += nn
      assert(cumT === ct && cumV === cv)
      assert(cumV <= cumT, "vocabulary cannot exceed token mass")
    }
    // JVM replay of the first-occurrence census
    val docs = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def bucket(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val firstDoc = scala.collection.mutable.Map[String, Long]()
    docs.sortBy(_._1).foreach { case (id, text) =>
      text.trim.split("\\s+").foreach { t =>
        if (!firstDoc.contains(t) || firstDoc(t) > id) firstDoc(t) = id
      }
    }
    val newPerBucket = firstDoc.values.groupBy(id => bucket(id + 1))
      .map { case (b, v) => b -> v.size.toLong }
    rows.foreach { case (b, _, nn, _, _) =>
      assert(newPerBucket.getOrElse(b, 0L) === nn, s"bucket $b")
    }
  }

  test("sessionization replays the JVM gap split and sessions are >30min apart") {
    import spark.implicits._
    val sess = SparkEntry.queries("q198_session_windows")(spark, dir)
      .select($"user_id", $"session_idx", $"n_events", $"duration_sec")
      .as[(Long, Long, Long, Long)].collect()
    val ev = graft.engine.Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts"), $"event_id")
      .as[(Long, Long, Long)].collect()
    val byUser = ev.groupBy(_._1)
    val perUser = sess.groupBy(_._1)
    perUser.foreach { case (u, ss) =>
      val times = byUser(u).sortBy(e => (e._2, e._3)).map(_._2)
      // JVM replay: split at > 30 min gaps
      var nSess = 1
      for (i <- 1 until times.length)
        if (times(i) - times(i - 1) > 1800000000L) nSess += 1
      assert(ss.length === nSess, s"user $u session count")
      assert(ss.map(_._3).sum === times.length.toLong, s"user $u event mass")
      assert(ss.map(_._2).sorted.toSeq === (1L to nSess.toLong), s"user $u idx")
      ss.foreach(s => assert(s._4 >= 0L))
    }
  }

  test("inter-arrival profile: gap mass equals events minus series count") {
    import spark.implicits._
    val rows = SparkEntry.queries("q197_interarrival")(spark, dir)
      .select($"event_type", $"gap_bucket", $"n_gaps", $"type_gaps")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (t, rs) =>
      assert(rs.map(_._3).sum === rs.head._4, s"type $t bucket mass")
    }
    // each (user, type) series of n events contributes n-1 gaps
    val ev = graft.engine.Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n"))
      .select($"event_type", $"n").as[(String, Long)].collect()
    val expect = ev.groupBy(_._1).map { case (t, xs) =>
      t -> xs.map(_._2 - 1).sum
    }
    rows.groupBy(_._1).foreach { case (t, rs) =>
      assert(rs.head._4 === expect(t), s"type $t total gaps")
    }
  }

  test("linear interpolation: observed rows exact, filled rows between anchors") {
    import spark.implicits._
    val rows = SparkEntry.queries("q199_linear_interp")(spark, dir)
      .select($"user_id", $"n_events", $"v_cents", $"interp_micro")
      .as[(Long, Long, Option[Long], Option[Long])].collect()
    assert(rows.nonEmpty)
    var filled = 0
    rows.foreach { case (u, n, vc, im) =>
      if (vc.isDefined) {
        assert(n > 0L)
        assert(im.contains(vc.get * 10000L), s"user $u observed row")
      } else assert(n === 0L)
      if (vc.isEmpty && im.isDefined) filled += 1
    }
    assert(filled > 100, "the grid must actually contain filled gaps")
  }

  test("Welch t-test replays from raw JVM moments; parity split is near-null") {
    import spark.implicits._
    val row = SparkEntry.queries("q200_welch_ttest")(spark, dir)
      .select($"n1", $"n2", $"mean1", $"mean2", $"t_stat", $"df")
      .as[(Long, Long, Double, Double, Double, Double)].head()
    val cents = graft.engine.Tables.orders(spark, dir)
      .select($"o_orderkey", round($"o_totalprice" * 100.0).cast("long"))
      .as[(Long, Long)].collect()
    val g0 = cents.filter(_._1 % 2 == 0).map(_._2)
    val g1 = cents.filter(_._1 % 2 == 1).map(_._2)
    assert(row._1 === g0.length.toLong && row._2 === g1.length.toLong)
    def moments(xs: Array[Long]): (Double, Double) = {
      val n = xs.length.toDouble
      val s = xs.sum.toDouble
      val q = xs.map(x => BigInt(x) * BigInt(x)).sum.toDouble
      val m = s / n
      (m, (q - s * s / n) / (n - 1.0))
    }
    val (m1, v1) = moments(g0); val (m2, v2) = moments(g1)
    val a1 = v1 / g0.length; val a2 = v2 / g1.length
    val t = (m1 - m2) / math.sqrt(a1 + a2)
    val df = (a1 + a2) * (a1 + a2) /
      (a1 * a1 / (g0.length - 1) + a2 * a2 / (g1.length - 1))
    assert(math.abs(row._3 - m1 / 100.0) < 1e-4)
    assert(math.abs(row._4 - m2 / 100.0) < 1e-4)
    assert(math.abs(row._5 - t) < 1e-4)
    assert(math.abs(row._6 - df) < 1.0)
    // random parity split ⇒ no real effect: |t| far below any threshold
    assert(math.abs(row._5) < 4.0, s"parity split t ${row._5} implausibly large")
  }

  test("incremental vocab census: both slices contribute and merge is lossless") {
    import spark.implicits._
    val merged = SparkEntry.queries("q201_incremental_vocab")(spark, dir)
      .select($"term", $"first_doc", $"occ")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(merged.nonEmpty)
    // one-shot census straight off the corpus — the merge must equal it
    val direct = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("term"))
      .groupBy($"term")
      .agg(min($"doc_id").as("fd"), count(lit(1)).as("occ"))
      .select($"term", $"fd", $"occ")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(merged === direct)
    // the delta slice genuinely carries occurrences (≥ 400 docs exist)
    assert(graft.engine.Tables.documents(spark, dir)
      .filter($"doc_id" >= 400).count() > 0L)
  }

  test("PSI drift replays from raw JVM bin counts and is non-negative") {
    import spark.implicits._
    val rows = SparkEntry.queries("q202_psi_drift")(spark, dir)
      .select($"bin", $"n_ref", $"n_cur", $"term_micro", $"psi")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val psi = rows.head._5
    rows.foreach(r => assert(r._5 === psi, "psi must repeat identically"))
    assert(math.abs(psi - rows.map(_._4).sum / 1e6) < 1e-9)
    // JVM replay of the smoothed PSI total
    val raw = graft.engine.Tables.orders(spark, dir)
      .select(year($"o_orderdate") < 1998,
        expr("CAST(length(bin(CAST(round(o_totalprice * 100.0) AS BIGINT) + 1)) - 1 AS BIGINT)"))
      .as[(Boolean, Long)].collect()
    val bins = raw.map(_._2).distinct
    val b = bins.length.toLong
    val tr = raw.count(_._1).toLong + b
    val tc = raw.count(!_._1).toLong + b
    val replay = bins.map { bin =>
      val sr = raw.count(r => r._1 && r._2 == bin).toLong + 1
      val sc = raw.count(r => !r._1 && r._2 == bin).toLong + 1
      val lnMicro = math.round(math.log((sr * tc).toDouble / (sc * tr).toDouble) * 1e6)
      math.floor((sr.toDouble / tr - sc.toDouble / tc) * (lnMicro / 1e6) * 1e6).toLong
    }.sum / 1e6
    assert(math.abs(psi - replay) < 1e-9)
    assert(psi >= 0.0, "PSI is a sum of same-sign products")
  }

  test("seasonal backtest replays from the JVM daily series") {
    import spark.implicits._
    val rows = SparkEntry.queries("q203_seasonal_backtest")(spark, dir)
      .select($"shard", $"n_eval", $"sum_abs_err", $"smape_mean_micro")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length === 8)
    val daily = graft.engine.Tables.events(spark, dir)
      .groupBy(($"user_id" % 8L).as("sh"), to_date($"ts").as("d"))
      .agg(sum(round($"value" * 100.0).cast("long")).as("c"))
      .select($"sh", $"d".cast("string"), $"c")
      .as[(Long, String, Long)].collect()
    val byShard = daily.groupBy(_._1)
    rows.foreach { case (sh, n, sumErr, smapeMean) =>
      val m = byShard(sh).map(x => x._2 -> x._3).toMap
      val pairs = m.toSeq.flatMap { case (d, c) =>
        val prev = java.time.LocalDate.parse(d).minusDays(7).toString
        m.get(prev).map(f => (c, f))
      }.filter { case (c, f) => c + f > 0 }
      assert(n === pairs.length.toLong, s"shard $sh eval count")
      assert(sumErr === pairs.map { case (c, f) => math.abs(c - f) }.sum)
      val smapeSum = pairs.map { case (c, f) =>
        (2 * math.abs(c - f) * 1000000L) / (c + f)
      }.sum
      assert(smapeMean === smapeSum / n, s"shard $sh sMAPE")
    }
  }

  test("target encoding: LOO mean replays and excludes the row itself") {
    import spark.implicits._
    val rows = SparkEntry.queries("q204_target_encoding")(spark, dir)
      .select($"o_orderkey", $"nation", $"cents", $"n_nation", $"loo_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val oc = graft.engine.Tables.orders(spark, dir)
      .join(graft.engine.Tables.customer(spark, dir),
        $"o_custkey" === $"c_custkey")
      .select($"c_nationkey".cast("long"),
        round($"o_totalprice" * 100.0).cast("long"))
      .as[(Long, Long)].collect()
    val byNation = oc.groupBy(_._1)
    rows.foreach { case (ok, nat, cents, n, loo) =>
      val xs = byNation(nat).map(_._2)
      assert(n === xs.length.toLong, s"order $ok nation size")
      val expect = ((xs.sum - cents) * 10000L) / (n - 1)
      assert(loo === expect, s"order $ok LOO")
    }
  }

  test("k-anonymity: cell mass covers the table and risk flags replay") {
    import spark.implicits._
    val rows = SparkEntry.queries("q205_k_anonymity")(spark, dir)
      .select($"n", $"at_risk", $"rows_at_risk", $"cells_at_risk")
      .as[(Long, Boolean, Long, Long)].collect()
    assert(rows.map(_._1).sum ===
      graft.engine.Tables.customer(spark, dir).count())
    rows.foreach { case (n, risk, _, _) => assert(risk === (n < 5L)) }
    val expectedRows = rows.filter(_._1 < 5L).map(_._1).sum
    val expectedCells = rows.count(_._1 < 5L).toLong
    rows.foreach { case (_, _, rar, car) =>
      assert(rar === expectedRows && car === expectedCells)
    }
    assert(expectedCells > 0L, "the QI grid must expose some small cells")
  }

  test("latency percentiles are ordered and replay a JVM sorted pick") {
    import spark.implicits._
    val rows = SparkEntry.queries("q206_latency_percentiles")(spark, dir)
      .select($"event_type", $"n", $"p50c", $"p90c", $"p99c")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.length === 5)
    val ev = graft.engine.Tables.events(spark, dir)
      .select($"event_type", round($"value" * 100.0).cast("long"))
      .as[(String, Long)].collect()
    val byType = ev.groupBy(_._1)
    rows.foreach { case (t, n, p50, p90, p99) =>
      assert(p50 <= p90 && p90 <= p99, s"type $t ordering")
      val xs = byType(t).map(_._2).sorted
      assert(n === xs.length.toLong)
      def pick(p: Int): Long = xs(((n * p + 99) / 100 - 1).toInt)
      assert(p50 === pick(50) && p90 === pick(90) && p99 === pick(99),
        s"type $t rank picks")
    }
  }

  test("Wilson interval brackets the point estimate and replays in the JVM") {
    import spark.implicits._
    val rows = SparkEntry.queries("q207_wilson_ci")(spark, dir)
      .select($"shard", $"n", $"k", $"p_micro", $"lo_micro", $"hi_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 8)
    rows.foreach { case (sh, n, k, pm, lo, hi) =>
      assert(k >= 0L && k <= n)
      assert(lo <= pm && pm <= hi, s"shard $sh bracket")
      assert(lo >= -1L && hi <= 1000000L, s"shard $sh bounds")
      val p = k.toDouble / n
      val denom = 1.0 + 3.8416 / n
      val center = (p + 3.8416 / (n * 2.0)) / denom
      val half = 1.96 * math.sqrt(p * (1.0 - p) / n +
        3.8416 / (n.toDouble * n * 4.0)) / denom
      assert(math.abs(lo - math.floor((center - half) * 1e6)) <= 1.0)
      assert(math.abs(hi - math.floor((center + half) * 1e6)) <= 1.0)
    }
  }

  test("Zipf slope replays from a JVM frequency census and is negative") {
    import spark.implicits._
    val row = SparkEntry.queries("q210_zipf_slope")(spark, dir)
      .select($"n_terms", $"zipf_slope", $"ln_c")
      .as[(Long, Double, Double)].head()
    val freqs = graft.engine.Tables.documents(spark, dir)
      .select(explode(split(trim($"text"), "\\s+")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect()
    assert(row._1 === freqs.length.toLong)
    val ranked = freqs.sortBy { case (t, f) => (-f, t) }.zipWithIndex
    val xs = ranked.map { case (_, i) => math.round(math.log(i + 1.0) * 1e6) }
    val ys = ranked.map { case ((_, f), _) => math.round(math.log(f.toDouble) * 1e6) }
    val n = xs.length.toDouble
    val sx = xs.sum.toDouble; val sy = ys.sum.toDouble
    val sxy = xs.zip(ys).map { case (a, b) => BigInt(a) * BigInt(b) }.sum.toDouble
    val sxx = xs.map(a => BigInt(a) * BigInt(a)).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(row._2 - slope) < 1e-4)
    assert(row._2 < 0.0, "rank-frequency slope must be negative")
  }

  test("session funnel stages are monotone and bounded by session count") {
    import spark.implicits._
    val rows = SparkEntry.queries("q211_session_funnel")(spark, dir)
      .select($"shard", $"n_sessions", $"n_view", $"n_view_click", $"n_full")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 8)
    rows.foreach { case (sh, ns, nv, nvc, nf) =>
      assert(nv <= ns && nvc <= nv && nf <= nvc, s"shard $sh monotone")
      assert(nv > 0L, s"shard $sh has view sessions")
    }
    // total session count agrees with q198's sessionization
    val q198 = SparkEntry.queries("q198_session_windows")(spark, dir).count()
    assert(rows.map(_._2).sum === q198)
  }

  test("event paths: 3-gram mass replays and top-10 counts are descending") {
    import spark.implicits._
    val rows = SparkEntry.queries("q212_event_paths")(spark, dir)
      .select($"path", $"n").as[(String, Long)].collect()
    assert(rows.length === 10)
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq)
    // JVM replay of the full 3-gram census; top-10 must match
    val ev = graft.engine.Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts"), $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val census = scala.collection.mutable.Map[String, Long]()
    ev.groupBy(_._1).values.foreach { es =>
      val seq = es.sortBy(e => (e._2, e._3)).map(_._4)
      seq.sliding(3).filter(_.length == 3).foreach { g =>
        val p = g.mkString(">")
        census(p) = census.getOrElse(p, 0L) + 1
      }
    }
    val expect = census.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    assert(rows.toSeq === expect)
  }

  test("lag features: calendar anchors replay against the daily map") {
    import spark.implicits._
    val rows = SparkEntry.queries("q213_lag_features")(spark, dir)
      .select($"shard", $"d".cast("string"), $"c", $"lag1", $"lag7",
        $"roll7_n", $"roll7_mean_micro")
      .as[(Long, String, Long, Option[Long], Option[Long], Long, Long)]
      .collect()
    assert(rows.nonEmpty)
    val daily = rows.map(r => (r._1, r._2) -> r._3).toMap
    rows.foreach { case (sh, d, _, lag1, lag7, n7, mean7) =>
      val day = java.time.LocalDate.parse(d)
      assert(lag1 === daily.get((sh, day.minusDays(1).toString)), s"$sh $d lag1")
      assert(lag7 === daily.get((sh, day.minusDays(7).toString)), s"$sh $d lag7")
      val win = (0 to 6).flatMap(k => daily.get((sh, day.minusDays(k).toString)))
      assert(n7 === win.length.toLong)
      assert(mean7 === (win.sum * 10000L) / win.length, s"$sh $d roll7")
    }
  }

  test("assortativity replays from a JVM degree census and is in [-1, 1]") {
    import spark.implicits._
    val row = SparkEntry.queries("q214_assortativity")(spark, dir)
      .select($"n_pairs", $"assortativity").as[(Long, Double)].head()
    val custs = graft.engine.Tables.customer(spark, dir)
      .select($"c_custkey").as[Long].collect()
    val edges = custs.flatMap(u => Seq(u / 2, u / 3)
      .filter(p => p >= 1 && p != u)
      .map(p => (math.min(u, p), math.max(u, p)))).distinct
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val pairs = edges.flatMap(e =>
      Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
    assert(row._1 === pairs.length.toLong)
    val n = pairs.length.toDouble
    val sx = pairs.map(_._1).sum.toDouble
    val sy = pairs.map(_._2).sum.toDouble
    val sxy = pairs.map { case (a, b) => BigInt(a) * BigInt(b) }.sum.toDouble
    val sxx = pairs.map(p => BigInt(p._1) * BigInt(p._1)).sum.toDouble
    val syy = pairs.map(p => BigInt(p._2) * BigInt(p._2)).sum.toDouble
    val r = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(math.abs(row._2 - r) < 1e-4)
    assert(row._2 >= -1.0 && row._2 <= 1.0)
  }

  test("weighted median replays a JVM weighted rank pick per group") {
    import spark.implicits._
    val rows = SparkEntry.queries("q216_weighted_median")(spark, dir)
      .select($"l_returnflag", $"total_weight", $"wp50c", $"wp90c")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.length === 3)
    val li = graft.engine.Tables.lineitem(spark, dir)
      .select($"l_returnflag", round($"l_extendedprice" * 100.0).cast("long"),
        $"l_quantity".cast("long"))
      .as[(String, Long, Long)].collect()
    val byFlag = li.groupBy(_._1)
    rows.foreach { case (fl, tw, p50, p90) =>
      val xs = byFlag(fl).map(x => (x._2, x._3)).sortBy(_._1)
      assert(tw === xs.map(_._2).sum)
      def pick(p: Int): Long = {
        val target = (tw * p + 99) / 100
        var cum = 0L
        xs.find { case (_, w) => cum += w; cum >= target }.get._1
      }
      assert(p50 === pick(50) && p90 === pick(90), s"flag $fl")
    }
  }

  test("SLO burn alerts replay the multiwindow thresholds") {
    import spark.implicits._
    val rows = SparkEntry.queries("q218_slo_burn")(spark, dir)
      .select($"shard", $"n_events", $"n_errors", $"burn1h_micro",
        $"n6", $"e6", $"burn6h_micro", $"alert")
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, e, b1, n6, e6, b6, alert) =>
      assert(e <= n && e6 <= n6 && n6 >= n)
      assert(b1 === (e * 100L * 1000000L) / n)
      assert(b6 === (e6 * 100L * 1000000L) / n6)
      assert(alert === (b1 > 14400000L && b6 > 6000000L))
    }
    // the error fixture genuinely produces burn, and alerts are rare
    assert(rows.exists(_._4 > 0L))
  }

  test("temporal reachability replays a JVM earliest-arrival search") {
    import spark.implicits._
    val res = SparkEntry.queries("q219_temporal_reach")(spark, dir)
      .select($"id", $"arr").as[(Long, Long)].collect().toMap
    assert(res(1L) === 0L && res.size > 1)
    val custs = graft.engine.Tables.customer(spark, dir)
      .select($"c_custkey").as[Long].collect()
    val kids = custs.filter(_ >= 2).groupBy(_ / 2)
    // bounded-hop earliest arrival, exhaustive over improving states
    val best = scala.collection.mutable.Map(1L -> 0L)
    var frontier = Map(1L -> 0L)
    for (_ <- 1 to 6) {
      val next = scala.collection.mutable.Map[Long, Long]()
      frontier.foreach { case (u, arr) =>
        kids.getOrElse(u, Array.empty[Long]).foreach { c =>
          val t = 1 + c % 28
          if (t >= arr && best.get(c).forall(_ > t) &&
            next.get(c).forall(_ > t)) next(c) = t
        }
      }
      frontier = next.toMap.filter { case (n, t) => best.get(n).forall(_ > t) }
      frontier.foreach { case (n, t) => best(n) = t }
    }
    assert(res === best.toMap)
  }

  test("capped running stock replays the JVM clamp fold and stays in range") {
    import spark.implicits._
    val rows = SparkEntry.queries("q220_capped_runsum")(spark, dir)
      .select($"shard", $"d".cast("string"), $"c", $"dem", $"cap", $"stock")
      .as[(Long, String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (sh, rs) =>
      val sorted = rs.sortBy(_._2)
      val dem = sorted.head._4; val cap = sorted.head._5
      assert(dem === sorted.map(_._3).sum / sorted.length)
      var acc = 0L
      sorted.foreach { r =>
        acc = math.min(cap, math.max(0L, acc + r._3 - dem))
        assert(r._6 === acc, s"shard $sh day ${r._2}")
        assert(acc >= 0L && acc <= cap)
      }
    }
  }

  test("bitmap index counts equal exact distinct-set algebra") {
    import spark.implicits._
    val row = SparkEntry.queries("q221_bitmap_index")(spark, dir)
      .select($"n_view", $"n_purchase", $"n_both", $"n_either",
        $"jaccard_micro")
      .as[(Long, Long, Long, Long, Long)].head()
    val ev = graft.engine.Tables.events(spark, dir)
      .select($"event_type", $"user_id").as[(String, Long)].collect()
    val viewers = ev.filter(_._1 == "view").map(_._2).toSet
    val buyers = ev.filter(_._1 == "purchase").map(_._2).toSet
    assert(row._1 === viewers.size.toLong)
    assert(row._2 === buyers.size.toLong)
    assert(row._3 === (viewers intersect buyers).size.toLong)
    assert(row._4 === (viewers union buyers).size.toLong)
    assert(row._5 === row._3 * 1000000L / row._4)
  }

  test("interval merge: islands replay the JVM sweep, disjoint and complete") {
    import spark.implicits._
    val rows = SparkEntry.queries("q222_interval_merge")(spark, dir)
      .select($"shard", $"island", $"island_start".cast("string"),
        $"island_end".cast("string"), $"n_intervals", $"span_days")
      .as[(Long, Long, String, String, Long, Int)].collect()
    assert(rows.nonEmpty)
    val iv = graft.engine.Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R" && year($"l_shipdate") === 1996)
      .select(($"l_suppkey" % 8L),
        to_date($"l_shipdate").cast("string"),
        expr("date_add(to_date(l_shipdate), CAST(1 + (l_suppkey + l_orderkey) % 14 AS INT))")
          .cast("string"))
      .as[(Long, String, String)].collect()
    assert(rows.map(_._5).sum === iv.length.toLong)
    rows.groupBy(_._1).foreach { case (sh, isles) =>
      val sorted = isles.sortBy(_._2)
      // strictly separated, ordered islands
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 < b._3, s"shard $sh islands overlap")
        case _ =>
      }
      // JVM merge replay
      val sIv = iv.filter(_._1 == sh).map(x => (x._2, x._3)).sortBy(identity)
      val merged = scala.collection.mutable.ListBuffer[(String, String, Long)]()
      sIv.foreach { case (s0, e0) =>
        if (merged.nonEmpty && s0 <= merged.last._2) {
          val (ms, me, n) = merged.last
          merged(merged.length - 1) =
            (ms, if (e0 > me) e0 else me, n + 1)
        } else merged += ((s0, e0, 1L))
      }
      assert(sorted.map(x => (x._3, x._4, x._5)).toSeq === merged.toSeq,
        s"shard $sh merge replay")
    }
  }

  test("l-diversity cells cover the table and homogeneity flags replay") {
    import spark.implicits._
    val rows = SparkEntry.queries("q223_l_diversity")(spark, dir)
      .select($"nation", $"bal_band", $"n", $"l", $"homogeneous",
        $"rows_exposed")
      .as[(Long, Long, Long, Long, Boolean, Long)].collect()
    assert(rows.map(_._3).sum ===
      graft.engine.Tables.customer(spark, dir).count())
    rows.foreach { case (_, _, n, l, hom, _) =>
      assert(l >= 1L && l <= math.min(n, 5L))
      assert(hom === (l < 2L))
    }
    val exposed = rows.filter(_._4 < 2L).map(_._3).sum
    rows.foreach(r => assert(r._6 === exposed))
  }

  test("inferred contracts: violations replay from the raw JVM slices") {
    import spark.implicits._
    val checks = SparkEntry.queries("q224_inferred_contracts")(spark, dir)
      .select($"check", $"n_violations").as[(String, Long)].collect().toMap
    val o = graft.engine.Tables.orders(spark, dir)
      .select(round($"o_totalprice" * 100.0).cast("long"),
        $"o_orderpriority", year($"o_orderdate") < 1998)
      .as[(Long, String, Boolean)].collect()
    val ref = o.filter(_._3); val cur = o.filterNot(_._3)
    val lo = ref.map(_._1).min; val hi = ref.map(_._1).max
    assert(checks("range_totalprice") ===
      cur.count(r => r._1 < lo || r._1 > hi).toLong)
    val allowed = ref.map(_._2).toSet
    assert(checks("priority_in_ref_set") ===
      cur.count(r => !allowed(r._2)).toLong)
    assert(checks("custkey_not_null") === 0L)
  }

  test("dedup P/R: hits bounded by both sides, high recall on the fixture") {
    import spark.implicits._
    val row = SparkEntry.queries("q225_dedup_pr")(spark, dir)
      .select($"n_truth", $"n_cand", $"n_hit", $"precision_micro",
        $"recall_micro")
      .as[(Long, Long, Long, Long, Long)].head()
    val (nt, nc, nh, p, r) = row
    assert(nt > 0L && nc > 0L, "fixture must contain near-dup pairs")
    assert(nh <= math.min(nt, nc))
    assert(p === nh * 1000000L / nc && r === nh * 1000000L / nt)
    // the fixture's near-dups are close to identical, so 4×2 banding
    // must catch nearly all of them
    assert(r >= 700000L, s"LSH recall $r collapsed")
  }

  test("share-of-parent: shares sum to ~1 within region and overall") {
    import spark.implicits._
    val rows = SparkEntry.queries("q226_share_of_parent")(spark, dir)
      .select($"r_name", $"cents", $"share_of_region_micro",
        $"share_of_total_micro")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // floor-div shares under-count by at most |children| micro units
    rows.groupBy(_._1).foreach { case (r, ns) =>
      val sum = ns.map(_._3).sum
      assert(sum <= 1000000L && sum > 1000000L - ns.length,
        s"region $r share mass $sum")
    }
    val total = rows.map(_._4).sum
    assert(total <= 1000000L && total > 1000000L - rows.length)
  }

  test("bounce/exit masses reconcile with the sessionization") {
    import spark.implicits._
    val rows = SparkEntry.queries("q227_bounce_exit")(spark, dir)
      .select($"shard", $"n_sessions", $"n_bounce", $"shard_sessions",
        $"shard_bounce_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
    val sess = SparkEntry.queries("q198_session_windows")(spark, dir)
      .select(($"user_id" % 8L).as("sh"), $"n_events")
      .as[(Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (sh, cells) =>
      val all = sess.filter(_._1 == sh)
      assert(cells.map(_._2).sum === all.length.toLong, s"shard $sh sessions")
      assert(cells.map(_._3).sum === all.count(_._2 == 1L).toLong,
        s"shard $sh bounces")
      val expect = all.count(_._2 == 1L).toLong * 1000000L / all.length
      cells.foreach(c => assert(c._5 === expect))
    }
  }

  test("quantile transform is monotone and replays JVM CDF positions") {
    import spark.implicits._
    val rows = SparkEntry.queries("q228_quantile_transform")(spark, dir)
      .select($"o_orderkey", $"cents", $"cdf_micro")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val all = graft.engine.Tables.orders(spark, dir)
      .select(round($"o_totalprice" * 100.0).cast("long"))
      .as[Long].collect().sorted
    val n = all.length.toLong
    rows.foreach { case (ok, c, cdf) =>
      val cumLe = all.count(_ <= c).toLong
      assert(cdf === cumLe * 1000000L / n, s"order $ok")
    }
    // monotone in the value
    val sorted = rows.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._3)
      case _ =>
    }
  }

  test("ARPU decomposition: identity conv × spend holds within floor error") {
    import spark.implicits._
    val rows = SparkEntry.queries("q229_arpu_decomposition")(spark, dir)
      .select($"shard", $"n_users", $"n_buyers", $"n_orders", $"cents",
        $"conv_micro", $"arpu_micro")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 8)
    rows.foreach { case (sh, nu, nb, no, c, conv, arpu) =>
      assert(nb <= nu && nb <= no)
      assert(conv === nb * 1000000L / nu)
      assert(arpu === c * 10000L / nu, s"shard $sh")
      // identity: arpu = conv × (spend per buyer), exact in rationals
      if (nb > 0) {
        val spendPerBuyer = c.toDouble / nb
        val viaDecomp = (nb.toDouble / nu) * spendPerBuyer * 10000
        assert(math.abs(arpu - viaDecomp) < 2.0, s"shard $sh identity")
      }
    }
  }

  test("drift attribution: per-dimension PSI replays q202's machinery") {
    import spark.implicits._
    val rows = SparkEntry.queries("q230_drift_attribution")(spark, dir)
      .select($"dimension", $"term_micro", $"dim_psi")
      .as[(String, Long, Double)].collect()
    val dims = rows.map(_._1).distinct.sorted
    assert(dims.toSeq === Seq("orderpriority", "totalprice_log2"))
    rows.groupBy(_._1).foreach { case (d, rs) =>
      val psi = rs.map(_._2).sum / 1e6
      rs.foreach(r => assert(math.abs(r._3 - psi) < 1e-9, s"dim $d"))
      assert(psi >= 0.0)
    }
  }

  test("attribution models conserve total purchase-session revenue") {
    import spark.implicits._
    val rows = SparkEntry.queries("q231_attribution_compare")(spark, dir)
      .select($"model", $"credited", $"n_sessions", $"revenue_cents")
      .as[(String, String, Long, Long)].collect()
    val byModel = rows.groupBy(_._1)
    assert(byModel.keySet === Set("first_touch", "last_touch"))
    val ftRev = byModel("first_touch").map(_._4).sum
    val ltRev = byModel("last_touch").map(_._4).sum
    assert(ftRev === ltRev, "both models must credit the same total revenue")
    assert(byModel("first_touch").map(_._3).sum ===
      byModel("last_touch").map(_._3).sum)
    // 'direct' can only appear under last_touch
    assert(!byModel("first_touch").exists(_._2 == "direct"))
  }

  test("CCF values are bounded and lag-0 replays the JVM correlation") {
    import spark.implicits._
    val rows = SparkEntry.queries("q232_ccf")(spark, dir)
      .select($"shard", $"ccf_m2", $"ccf_m1", $"ccf_0", $"ccf_p1", $"ccf_p2")
      .as[(Long, Double, Double, Double, Double, Double)].collect()
    assert(rows.length === 8)
    val daily = graft.engine.Tables.events(spark, dir)
      .groupBy(($"user_id" % 8L).as("sh"), to_date($"ts").as("d"))
      .agg(sum(round($"value" * 100.0).cast("long")).as("x"),
        count(lit(1)).as("y"))
      .select($"sh", $"d".cast("string"), $"x", $"y")
      .as[(Long, String, Long, Long)].collect()
    val byShard = daily.groupBy(_._1)
    rows.foreach { case (sh, m2, m1, c0, p1, p2) =>
      Seq(m2, m1, c0, p1, p2).foreach(v =>
        assert(v >= -1.000001 && v <= 1.000001, s"shard $sh bound"))
      val xs = byShard(sh).sortBy(_._2)
      val n = xs.length.toLong
      val sx = xs.map(_._3).sum; val sy = xs.map(_._4).sum
      val ex = xs.map(r => BigInt(r._3) * n - sx)
      val ey = xs.map(r => BigInt(r._4) * n - sy)
      val num = ex.zip(ey).map { case (a, b) => a * b }.sum.toDouble
      val den = math.sqrt(ex.map(a => a * a).sum.toDouble) *
        math.sqrt(ey.map(a => a * a).sum.toDouble)
      assert(math.abs(c0 - num / den) < 1e-4, s"shard $sh lag0")
    }
  }

  test("containment pairs are supersets the Jaccard gate would miss") {
    import spark.implicits._
    val rows = SparkEntry.queries("q233_containment")(spark, dir)
      .select($"n_common", $"sz1", $"sz2", $"cont12_micro", $"cont21_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nc, s1, s2, c12, c21) =>
      assert(nc <= s1 && nc <= s2)
      assert(c12 === nc * 1000000L / s1 && c21 === nc * 1000000L / s2)
      assert(c12 >= 900000L || c21 >= 900000L)
    }
  }

  test("KS statistic replays a JVM CDF sweep") {
    import spark.implicits._
    val row = SparkEntry.queries("q234_ks_test")(spark, dir)
      .select($"n_ref", $"n_cur", $"at_cents", $"d_num", $"ks")
      .as[(Long, Long, Long, Long, Double)].head()
    val o = graft.engine.Tables.orders(spark, dir)
      .select(year($"o_orderdate") < 1998,
        round($"o_totalprice" * 100.0).cast("long"))
      .as[(Boolean, Long)].collect()
    val ref = o.filter(_._1).map(_._2).sorted
    val cur = o.filterNot(_._1).map(_._2).sorted
    assert(row._1 === ref.length.toLong && row._2 === cur.length.toLong)
    val values = (ref ++ cur).distinct.sorted
    val best = values.map { v =>
      val d = math.abs(ref.count(_ <= v).toLong * cur.length -
        cur.count(_ <= v).toLong * ref.length)
      (d, v)
    }.maxBy { case (d, v) => (d, -v) }
    assert(row._4 === best._1 && row._3 === best._2)
    assert(math.abs(row._5 -
      best._1.toDouble / (ref.length.toDouble * cur.length)) < 1e-12)
  }
}
