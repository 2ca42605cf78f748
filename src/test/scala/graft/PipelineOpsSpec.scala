package graft

import org.apache.spark.sql.functions.{count, explode, length, lit, split, trim}
import graft.engine.{Dedup, TextOps}

/** Semantic invariants for the training-pipeline operators added in
  * round 2 (q57 clustering, q58/q59 quality+repetition, q72 scrubbing,
  * q73 n-gram census, q74 decontamination). Value-level correctness is
  * the DuckDB oracle; these pin the graph/filter properties the oracle
  * can't express. */
class PipelineOpsSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  test("q57 clustering is consistent with the q51 pair list") {
    import spark.implicits._
    val labels = Dedup.queries("q57_dedup_clusters")(spark, dir)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    val pairs = Dedup.queries("q51_minhash_lsh")(spark, dir)
      .as[(Long, Long)].collect()
    // every near-dup pair must land in the same component
    assert(pairs.forall { case (a, b) => labels(a) == labels(b) })
    // labels are component minima: label <= node, and the label node
    // is its own label (the canonical representative exists)
    assert(labels.forall { case (d, c) => c <= d && labels(c) == c })
  }

  test("q57 covers every document exactly once") {
    val out = Dedup.queries("q57_dedup_clusters")(spark, dir)
    val docs = graft.engine.Tables.documents(spark, dir).count()
    assert(out.count() == docs)
    assert(out.select("doc_id").distinct().count() == docs)
  }

  test("q58 keep flag agrees with its own signal columns") {
    import spark.implicits._
    val rows = TextOps.queries("q58_quality_filter")(spark, dir)
      .select($"n_tokens", $"mean_word_len", $"dup_tok_frac", $"top_tok_frac", $"keep")
      .as[(Long, Double, Double, Double, Boolean)].collect()
    assert(rows.forall { case (n, mwl, df, tf, keep) =>
      keep == (n >= 20 && n <= 80 && mwl >= 4.0 && mwl <= 5.0 && df < 0.6 && tf < 0.15)
    })
    // thresholds must actually split the corpus, else the filter tests nothing
    assert(rows.exists(_._5) && rows.exists(!_._5))
  }

  test("q59 repetition fractions stay in [0,1]") {
    import spark.implicits._
    val rows = TextOps.queries("q59_repetition")(spark, dir)
      .select($"dup_trigram_frac", $"top_bigram_frac")
      .as[(Double, Double)].collect()
    assert(rows.forall { case (d, t) => d >= 0.0 && d <= 1.0 && t > 0.0 && t <= 1.0 })
  }

  test("q72 scrubbed text retains no email or URL matches") {
    import spark.implicits._
    val rows = TextOps.queries("q72_pii_scrub")(spark, dir)
      .select($"n_emails", $"n_urls", $"scrubbed")
      .as[(Long, Long, String)].collect()
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
    val url = "https?://\\S+".r
    assert(rows.forall { case (ne, nu, s) =>
      ne >= 1 && nu >= 1 &&
        email.findFirstIn(s).isEmpty && url.findFirstIn(s).isEmpty &&
        s.contains("<EMAIL>") && s.contains("<URL>")
    })
  }

  test("q73 top-k counts are non-increasing and capped at 50") {
    import spark.implicits._
    val cnts = TextOps.queries("q73_ngram_topk")(spark, dir)
      .select($"cnt").as[Long].collect()
    assert(cnts.length <= 50)
    assert(cnts.zip(cnts.drop(1)).forall { case (a, b) => a >= b })
  }

  test("q75 refinery funnel is monotone and stage flags nest") {
    import spark.implicits._
    val f = graft.engine.Pipeline.refinery(spark, dir)
      .select($"n_docs", $"n_quality", $"n_exact", $"n_neardup", $"n_clean")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(f.nonEmpty)
    assert(f.forall { case (d, q, e, n, c) => d >= q && q >= e && e >= n && n >= c })
    // per-doc flags nest: c_keep ⊆ n_keep ⊆ e_keep ⊆ q_keep
    val bad = graft.engine.Pipeline.stageFlags(spark, dir)
      .filter(($"c_keep" && !$"n_keep") || ($"n_keep" && !$"e_keep") ||
        ($"e_keep" && !$"q_keep")).count()
    assert(bad == 0)
  }

  test("q74 flags exactly the docs with benchmark overlap, training set only") {
    import spark.implicits._
    val rows = Dedup.queries("q74_decontamination")(spark, dir)
      .select($"doc_id", $"n_overlap", $"contaminated")
      .as[(Long, Long, Boolean)].collect()
    assert(rows.forall { case (d, n, c) => d >= 25 && (c == (n > 0)) })
  }

  test("q189 Viterbi segmentation is optimal: JVM DP replay, pieces rebuild the word") {
    import spark.implicits._
    // rebuild the weighted piece-count model exactly as the query does
    val words = graft.engine.Tables.documents(spark, dir)
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect()
    val cnt = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- words; s <- 0 until w.length;
         l <- 1 to math.min(4, w.length - s))
      cnt.updateWith(w.substring(s, s + l)) {
        c => Some(c.getOrElse(0L) + f)
      }
    val t = cnt.values.sum
    def cost(p: String): Long =
      math.round(math.log(t.toDouble / cnt(p).toDouble) * 1e6)
    // independent JVM Viterbi (plain arrays, no encoding trick)
    def viterbi(w: String): Long = {
      val best = Array.fill(w.length + 1)(Long.MaxValue / 4)
      best(0) = 0L
      for (e <- 1 to w.length; l <- 1 to math.min(4, e))
        best(e) = math.min(best(e), best(e - l) + cost(w.substring(e - l, e)))
      best(w.length)
    }
    val got = graft.engine.TextOps.queries("q189_unigram_viterbi")(spark, dir)
      .select($"w", $"n_pieces", $"cost_micro", $"pieces_str")
      .as[(String, Long, Long, String)].collect()
    assert(got.length === words.length)
    got.foreach { case (w, np, cm, ps) =>
      assert(cm === viterbi(w), s"'$w' optimal cost")
      val pieces = ps.split(" ").toSeq
      assert(pieces.size.toLong === np)
      assert(pieces.mkString === w, s"'$w' pieces must rebuild the word")
      assert(pieces.map(cost).sum === cm,
        s"'$w' reported pieces must realize the optimal cost")
    }
  }

  test("q186 BLEU clipped precisions and log score replay in JVM counting") {
    import spark.implicits._
    val texts = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val got = TextOps.queries("q186_bleu")(spark, dir)
      .select($"cand_id", $"c_len", $"r_len", $"p1_num", $"p2_num",
        $"p2_den", $"logbleu_micro")
      .collect()
    assert(got.length === texts.size / 2)
    def toks(s: String) = s.trim.split("\\s+").toSeq
    def counts(xs: Seq[String]) =
      xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    got.take(40).foreach { r =>
      val cand = toks(texts(r.getLong(0)))
      val ref = toks(texts(r.getLong(0) - 1))
      assert(r.getLong(1) === cand.size.toLong, "c_len")
      assert(r.getLong(2) === ref.size.toLong, "r_len")
      val (cu, ru) = (counts(cand), counts(ref))
      val p1 = cu.map { case (g, c) => math.min(c, ru.getOrElse(g, 0L)) }.sum
      assert(r.getLong(3) === p1, "p1_num clipped overlap")
      val cb = counts(cand.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq)
      val rb = counts(ref.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq)
      val p2 = cb.map { case (g, c) => math.min(c, rb.getOrElse(g, 0L)) }.sum
      assert(r.getLong(4) === p2, "p2_num clipped overlap")
      assert(r.getLong(5) === cb.values.sum, "p2_den")
      val lnp1 = math.round(math.log((p1 + 1.0) / (cand.size + 1.0)) * 1e6)
      val lnp2 = math.round(math.log((p2 + 1.0) / (cb.values.sum + 1.0)) * 1e6)
      val bp = if (cand.size < ref.size)
        math.round((1.0 - ref.size.toDouble / cand.size.toDouble) * 1e6)
      else 0L
      // Spark/DuckDB round() is half-AWAY-FROM-ZERO; math.round is
      // half-toward-+inf — they differ on the odd-sum -x.5 halves
      val exp = bp + BigDecimal((lnp1 + lnp2).toDouble / 2.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(r.getLong(6) === exp, "logbleu_micro")
      assert(r.getLong(6) <= 0L, "log BLEU is non-positive")
    }
  }

  test("q248 feature hashing is bounded, signed, and replayable per doc") {
    import spark.implicits._
    val out = TextOps.queries("q248_feature_hashing")(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, b, w) => b >= 0 && b < 64 && w != 0 })
    // Σ|w| per doc never exceeds the doc's token count (signs cancel,
    // never amplify), and buckets are unique per doc
    val tokCounts = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("t"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    out.groupBy(_._1).foreach { case (docId, rows) =>
      assert(rows.map(_._2).distinct.length == rows.length)
      assert(rows.map(r => math.abs(r._3)).sum <= tokCounts(docId))
    }
  }

  test("q240 hash split partitions the corpus near 80/10/10, deterministically") {
    import spark.implicits._
    val out = TextOps.queries("q240_hash_split")(spark, dir)
      .select($"split", $"lang", $"n_docs", $"split_total",
        $"share_in_split_micro")
      .as[(String, String, Long, Long, Long)].collect()
    val docs = graft.engine.Tables.documents(spark, dir).count()
    assert(out.map(_._3).sum === docs) // splits partition the corpus
    val bySplit = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    // keyed-hash thresholds: expect ~80/10/10 (loose CI at 500 docs)
    assert(bySplit("train") > docs * 7 / 10 && bySplit("train") < docs * 9 / 10)
    // per-row share replays as floor(n·1e6 / split_total)
    out.foreach { case (_, _, n, st, sh) =>
      assert(sh === n * 1000000L / st)
    }
    // deterministic: a second evaluation is identical
    val again = TextOps.queries("q240_hash_split")(spark, dir)
      .select($"split", $"lang", $"n_docs", $"split_total",
        $"share_in_split_micro")
      .as[(String, String, Long, Long, Long)].collect()
    assert(out.sorted.sameElements(again.sorted))
  }

  test("q241 vocab coverage replays from raw term counts and is monotone") {
    import spark.implicits._
    val counts = graft.engine.Tables.documents(spark, dir)
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect()
    val sortedC = counts.map(_._2).sorted(Ordering[Long].reverse)
    val totalOcc = sortedC.sum
    val out = TextOps.queries("q241_vocab_coverage")(spark, dir)
      .select($"k", $"n_terms_used", $"covered_occ", $"total_occ",
        $"coverage_micro")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(100L, 1000L, 10000L))
    out.foreach { case (k, used, cov, tot, micro) =>
      assert(tot === totalOcc)
      assert(used === math.min(k, sortedC.length.toLong))
      // exact replay: top-used counts (any tie order — counts equal)
      assert(cov === sortedC.take(used.toInt).sum)
      assert(micro === cov * 1000000L / tot)
    }
    // more vocab never covers less
    assert(out.map(_._3).toSeq === out.map(_._3).sorted.toSeq)
  }
}
