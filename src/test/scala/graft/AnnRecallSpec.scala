package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Similarity, Tables => T}

/** Measured ANN quality: recall@k of the bucketed searches against the
  * exact brute-force top-k, and the multi-probe recall/cost curve.
  * Single-bucket sign-LSH trades most of the corpus scan away and pays
  * in recall; multi-probe buys it back bucket by bucket until
  * probes=16 IS the exhaustive search. Pinning the curve keeps the
  * trade-off honest — an ANN that silently stopped recalling anything
  * would still pass its (self-consistent) oracle, but not this spec.
  */
class AnnRecallSpec extends SparkSuite {
  // every test runs at the 8-way shuffle width the suite was written for
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8")(super.withFixture(test))

  val dir = "/root/testdata/sf0.01"

  private lazy val exactTop3: Set[(Long, Long)] = {
    import spark.implicits._
    val cos = graft.functions.CosineSimilarity.cosineSim(spark) _
    val emb = T.embeddings(spark, dir)
    val q = emb.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
    emb.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"),
        round(cos($"qe", $"embedding"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
  }

  private def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
    import spark.implicits._
    val ann = df.select(col("qid"), col("cid")).as[(Long, Long)].collect().toSet
    (ann intersect exactTop3).size.toDouble / exactTop3.size
  }

  test("multi-probe recall is monotone and exhaustive probing equals exact") {
    val r1 = recallOf(Similarity.lshTopK(spark, dir, k = 3, probes = 1))
    val r5 = recallOf(Similarity.lshTopK(spark, dir, k = 3, probes = 5))
    val r16 = recallOf(Similarity.lshTopK(spark, dir, k = 3, probes = 16))
    assert(r1 > 0.0, "single bucket must recall something")
    assert(r5 >= r1, s"probing more buckets cannot lose recall: $r5 < $r1")
    assert(r16 == 1.0, s"probing all 16 buckets is brute force, recall=$r16")
  }

  test("IVF nprobe curve is monotone and probing every cell equals exact") {
    val r1 = recallOf(Similarity.ivfTopK(spark, dir, k = 3, nprobe = 1))
    val r3 = recallOf(Similarity.ivfTopK(spark, dir, k = 3, nprobe = 3))
    val r8 = recallOf(Similarity.ivfTopK(spark, dir, k = 3, nprobe = 8))
    assert(r1 > 0.0)
    assert(r3 >= r1, s"more cells cannot lose recall: $r3 < $r1")
    assert(r8 == 1.0, s"probing all cells is brute force, recall=$r8")
  }

  test("PQ + re-rank recalls well and degenerates to exact at full rerank") {
    // rerank bounded at 50 of ~500: the ADC approximation has to put
    // the true neighbors in its top decile for this to pass
    val r50 = recallOf(Similarity.pqTopK(spark, dir, k = 3, rerank = 50))
    assert(r50 >= 0.5, s"PQ rerank=50 recall $r50 below floor")
    // rerank ≥ corpus: the exact re-rank sees every candidate, so the
    // PQ stage can only order, never exclude — must equal brute force
    val rAll = recallOf(Similarity.pqTopK(spark, dir, k = 3, rerank = 1000))
    assert(rAll == 1.0, s"full-rerank PQ must be exact, got $rAll")
  }

  test("IVF-PQ composes: cell pruning + code ordering still recall, full knobs = exact") {
    val r = recallOf(Similarity.ivfPqTopK(spark, dir, k = 3, nprobe = 2, rerank = 50))
    assert(r > 2.0 / 8, s"IVF-PQ (nprobe=2/8, rerank=50) recall $r not above random")
    val exact = recallOf(Similarity.ivfPqTopK(spark, dir, k = 3, nprobe = 8, rerank = 1000))
    assert(exact == 1.0, s"all cells + full rerank must be exact, got $exact")
  }

  test("trained-kmeans IVF searches cell-locally and still recalls") {
    val trained = recallOf(Similarity.ivfTopKTrained(spark, dir, k = 3, nprobe = 2))
    assert(trained > 2.0 / 8,
      s"trained IVF (nprobe=2 of 8 cells) recall $trained not above random baseline")
  }

  test("single-bucket LSH and IVF beat the random-candidate baseline") {
    // a random 1/16 candidate subset would land ~1/16 of the exact
    // top-3 in expectation; the sign buckets must do meaningfully
    // better because they correlate with cosine
    val lsh = recallOf(SparkEntry.queries("q61_lsh_ann")(spark, dir))
    val ivf = recallOf(SparkEntry.queries("q63_ivf_ann")(spark, dir))
    assert(lsh > 2.0 / 16, s"sign-LSH recall $lsh not above random baseline")
    assert(ivf > 2.0 / 16, s"IVF recall $ivf not above random baseline")
  }

  test("JL distortion: one pair replays in the JVM and ratios concentrate near 1") {
    import spark.implicits._
    val rows = SparkEntry.queries("q193_jl_distortion")(spark, dir)
      .select($"a", $"b", $"d2_orig", $"d2_proj_scaled", $"ratio")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rows.length === 190) // C(20,2) capped sample at sf0.01
    // independent JVM replay of the first pair: same fixed sign matrix
    // (re-derived here from the published formula), same fold order
    def sign(j: Int, i: Int): Int = {
      val x = (j * 64 + i + 1).toLong * 0x9E3779B97F4A7C15L
      val z = x ^ (x >>> 31)
      if (((z >>> 17) & 1L) == 1L) 1 else -1
    }
    val emb = T.embeddings(spark, dir)
      .filter($"vec_id" % 25 === 0 && $"vec_id" < 2000)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .toMap
    val (a0, b0, d2o0, d2p0, _) = rows.minBy(r => (r._1, r._2))
    val va = emb(a0).map(_.toDouble)
    val vb = emb(b0).map(_.toDouble)
    def proj(v: Array[Double], j: Int): Double = {
      var acc = 0.0
      for (i <- 0 until 64) acc += (if (sign(j, i) > 0) v(i) else -v(i))
      acc
    }
    var d2o = 0.0
    for (i <- 0 until 64) { val d = va(i) - vb(i); d2o += d * d }
    var d2p = 0.0
    for (j <- 0 until 8) { val d = proj(va, j) - proj(vb, j); d2p += d * d }
    assert(math.abs(d2o0 - d2o) < 1e-6, "original distance replay")
    assert(math.abs(d2p0 - d2p * 0.125) < 1e-6, "projected distance replay")
    // JL concentration: the mean ratio is an unbiased norm estimate —
    // with k=8 individual pairs scatter, but the average must sit
    // near 1 and every ratio must be positive and finite
    val ratios = rows.map(_._5)
    assert(ratios.forall(r => r > 0.0 && r < 10.0))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.6 && mean < 1.5, s"mean distortion $mean far from 1")
  }

  test("silhouette: own distance minimal, scores in [0,1], cluster mean matches") {
    import spark.implicits._
    val rows = SparkEntry.queries("q196_silhouette")(spark, dir)
      .select($"vec_id", $"cl", $"d2_own", $"d2_next", $"sil_micro",
        $"cluster_mean_sil_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 500)
    rows.foreach { case (id, _, own, next, sil, _) =>
      assert(own <= next, s"vec $id: own centroid not the argmin")
      assert(sil >= 0L && sil <= 1000000L, s"vec $id sil $sil out of [0,1]")
    }
    rows.groupBy(_._2).foreach { case (cl, members) =>
      // integer micro mean: floor(Σ sil_micro / n)
      val mean = Math.floorDiv(members.map(_._5).sum, members.length.toLong)
      members.foreach { m =>
        assert(m._6 === mean, s"cluster $cl mean mismatch")
      }
    }
  }

  test("macro-F1 confusion cells reconcile with the kNN prediction table") {
    import spark.implicits._
    val conf = SparkEntry.queries("q217_macro_f1")(spark, dir)
      .select($"label", $"tp", $"fp", $"fn", $"f1_micro", $"macro_f1_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(conf.nonEmpty)
    val preds = SparkEntry.queries("q154_knn_classify")(spark, dir)
      .select($"true_label", $"pred_label").as[(Long, Long)].collect()
    conf.foreach { case (l, tp, fp, fn, f1, _) =>
      assert(tp === preds.count(p => p._1 == l && p._2 == l).toLong)
      assert(fp === preds.count(p => p._1 != l && p._2 == l).toLong)
      assert(fn === preds.count(p => p._1 == l && p._2 != l).toLong)
      assert(f1 === (2 * tp * 1000000L) / (2 * tp + fp + fn))
      assert(f1 >= 0L && f1 <= 1000000L)
    }
    val expectMacro = conf.map(_._5).sum / conf.length
    conf.foreach(c => assert(c._6 === expectMacro))
    // total errors balance: sum of FP == sum of FN
    assert(conf.map(_._3).sum === conf.map(_._4).sum)
  }
}
