package graft

import org.apache.spark.sql.functions._

/** Properties of the retrieval family (q176-q179) beyond the oracle's
  * hash-equality: RRF fusion replayed from the two arms independently,
  * metric definitions (MRR/nDCG/AP) replayed in plain JVM arithmetic
  * over the exact cosine ranking, and DSIR weight structure checks. */
class RetrievalSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.01"

  /** The exact cosine ranking q177/q178 are defined over, replayed in
    * JVM collections: per query (vec_id % 50 == 0) every other vector
    * ranked by (rounded cosine desc, cid). */
  private lazy val jvmRanking: Map[Long, Seq[(Long, Boolean)]] = {
    import spark.implicits._
    val vecs = graft.engine.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", $"label".cast("long"))
      .as[(Long, Array[Float], Long)].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    vecs.filter(v => v._1 % 50 == 0 && v._1 < 2000)
      .map { case (qid, qe, qlabel) =>
      val ranked = vecs.filter(_._1 != qid)
        .map { case (cid, e, l) =>
          (cid, l == qlabel,
            BigDecimal(cos(qe, e)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        }
        .sortBy { case (cid, _, sim) => (-sim, cid) }
        .map { case (cid, rel, _) => (cid, rel) }.toSeq
      qid -> ranked
    }.toMap
  }

  test("q176 fusion rows replay from independently computed arm top-20s") {
    import spark.implicits._
    val fused = SparkEntry.queries("q176_rrf_fusion")(spark, dir)
      .select($"qid", $"cid", $"sparse_rank", $"dense_rank", $"rrf", $"rank")
      .collect()
    assert(fused.nonEmpty)
    // Dense arm replayed from the JVM cosine ranking restricted to the
    // % 100 probes; sparse ranks accepted as reported, but the fusion
    // arithmetic and final ordering re-derived per row.
    val denseRank: Map[(Long, Long), Long] = jvmRanking.collect {
      case (qid, ranked) if qid % 100 == 0 =>
        ranked.take(20).zipWithIndex.map { case ((cid, _), i) =>
          (qid, cid) -> (i + 1).toLong
        }
    }.flatten.toMap
    var checkedDense = 0
    fused.foreach { r =>
      val qid = r.getLong(0); val cid = r.getLong(1)
      val sr = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val dr = if (r.isNullAt(3)) None else Some(r.getLong(3))
      // reported dense rank must equal the independent replay (or be
      // absent exactly when the replay says out-of-top-20)
      denseRank.get((qid, cid)) match {
        case Some(expected) =>
          assert(dr.contains(expected), s"($qid,$cid) dense rank")
          checkedDense += 1
        case None => assert(dr.isEmpty, s"($qid,$cid) should lack dense rank")
      }
      val expectRrf = sr.map(v => 1.0 / (60.0 + v)).getOrElse(0.0) +
        dr.map(v => 1.0 / (60.0 + v)).getOrElse(0.0)
      assert(math.abs(r.getDouble(4) - expectRrf) < 1e-6)
      assert(sr.nonEmpty || dr.nonEmpty, "a fused row came from neither arm")
    }
    assert(checkedDense > 0)
    // final rank ordering consistent with rrf within each query
    fused.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getLong(5))
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(4) >= b.getDouble(4) - 1e-9)
        case _ =>
      }
    }
  }

  test("q177 MRR and nDCG replay in JVM arithmetic over the exact ranking") {
    import spark.implicits._
    val got = SparkEntry.queries("q177_rank_eval")(spark, dir)
      .select($"qid", $"n_rel_pool", $"first_rel_rank", $"dcg_micro",
        $"idcg_micro", $"ndcg", $"mrr")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val terms = graft.engine.Retrieval.dcgTermMicro
    val ideals = graft.engine.Retrieval.idcgMicro
    var sumRrMicro = 0L
    jvmRanking.foreach { case (qid, ranked) =>
      val (nRel, firstRel, dcg, idcg, ndcg, _) = got(qid)
      assert(nRel === ranked.count(_._2).toLong, s"q$qid n_rel_pool")
      val top10 = ranked.take(10)
      val expFirst = top10.indexWhere(_._2) match {
        case -1 => 0L
        case i => (i + 1).toLong
      }
      assert(firstRel === expFirst, s"q$qid first_rel_rank")
      val expDcg: Long = top10.zipWithIndex.collect {
        case ((_, true), i) => terms(i)
      }.foldLeft(0L)(_ + _)
      assert(dcg === expDcg, s"q$qid dcg")
      val expIdcg =
        if (nRel == 0) 0L else ideals(math.min(nRel, 10L).toInt - 1)
      assert(idcg === expIdcg, s"q$qid idcg")
      val expNdcg = if (expIdcg == 0) 0.0
        else math.floor(expDcg.toDouble / expIdcg.toDouble * 1e6) / 1e6
      assert(math.abs(ndcg - expNdcg) < 1e-9, s"q$qid ndcg")
      sumRrMicro +=
        (if (expFirst == 0) 0L else math.round(1e6 / expFirst.toDouble))
    }
    val expMrr = sumRrMicro.toDouble / (jvmRanking.size * 1e6)
    got.values.foreach { case (_, _, _, _, _, mrr) =>
      assert(math.abs(mrr - expMrr) < 1e-6)
    }
  }

  test("q178 AP replays in JVM arithmetic; AP ∈ [0,1]; MAP is the mean") {
    import spark.implicits._
    val got = SparkEntry.queries("q178_avg_precision")(spark, dir)
      .select($"qid", $"n_rel_pool", $"n_rel_at_k", $"ap", $"map")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    var sumApMicro = 0L
    jvmRanking.foreach { case (qid, ranked) =>
      val (nRelPool, nRelAtK, ap, _) = got(qid)
      assert(nRelPool === ranked.count(_._2).toLong)
      val top50 = ranked.take(50)
      assert(nRelAtK === top50.count(_._2).toLong)
      var cum = 0L
      var sumP = 0L
      top50.zipWithIndex.foreach { case ((_, rel), i) =>
        if (rel) {
          cum += 1
          sumP += math.round(cum.toDouble * 1e6 / (i + 1).toDouble)
        }
      }
      val apMicro = if (nRelPool == 0) 0L
        else math.round(sumP.toDouble / math.min(nRelPool, 50L).toDouble)
      assert(math.abs(ap - apMicro.toDouble / 1e6) < 1e-9, s"q$qid ap")
      assert(ap >= 0.0 && ap <= 1.0)
      sumApMicro += apMicro
    }
    val expMap = sumApMicro.toDouble / (jvmRanking.size * 1e6)
    got.values.foreach { case (_, _, _, map) =>
      assert(math.abs(map - expMap) < 1e-6)
    }
  }

  test("q179 DSIR weights: English-looking docs outrank by construction") {
    import spark.implicits._
    val rows = SparkEntry.queries("q179_dsir_weights")(spark, dir)
      .select($"doc_id", $"lang", $"n_tokens", $"logw_micro", $"logw_nats")
      .collect()
    assert(rows.length === 25)
    assert(rows.forall(_.getString(1) != "en"), "target slice excluded")
    // ordering: descending weight, doc_id tie-break
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val (wa, wb) = (a.getLong(3), b.getLong(3))
        assert(wa > wb || (wa == wb && a.getLong(0) < b.getLong(0)))
      case _ =>
    }
    // logw_nats is exactly logw_micro / 1e6 rounded
    rows.foreach { r =>
      val exp = BigDecimal(r.getLong(3).toDouble / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(4) - exp) < 1e-9)
    }
  }

  test("q179 bucket log-ratios replay from raw token counts") {
    import spark.implicits._
    // independent recount of the 16 hashed-bucket distributions
    val toks = graft.engine.Tables.documents(spark, dir)
      .select($"lang", explode(split(trim($"text"), "\\s+")).as("term"))
      .as[(String, String)].collect()
    def bucket(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 1), 16)
    }
    val sTot = toks.length.toLong
    val tToks = toks.filter(_._1 == "en")
    val tTot = tToks.length.toLong
    val sCnt = toks.groupBy(t => bucket(t._2)).map { case (b, xs) => b -> xs.length.toLong }
    val tCnt = tToks.groupBy(t => bucket(t._2)).map { case (b, xs) => b -> xs.length.toLong }
    def lrMicro(b: Long): Long = math.round(math.log(
      ((tCnt.getOrElse(b, 0L) + 1L) * (sTot + 16L)).toDouble /
        ((sCnt(b) + 1L) * (tTot + 16L)).toDouble) * 1e6)
    // replay one scored doc end-to-end
    val top = SparkEntry.queries("q179_dsir_weights")(spark, dir)
      .select($"doc_id", $"logw_micro").as[(Long, Long)].head()
    val docToks = graft.engine.Tables.documents(spark, dir)
      .filter($"doc_id" === top._1)
      .select(explode(split(trim($"text"), "\\s+")).as("t"))
      .as[String].collect()
    val expected = docToks.map(t => lrMicro(bucket(t))).sum
    assert(top._2 === expected)
  }
}
