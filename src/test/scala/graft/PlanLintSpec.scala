package graft

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Static plan lint over the whole query surface: no query may plan an
  * unintentional cartesian product or nested-loop join — the two
  * shapes that silently work at sf0.1 and detonate at 100 TB.
  * Intentional exceptions are pinned explicitly. */
class PlanLintSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  val dir = "/root/testdata/sf0.001"

  /** Queries allowed to contain a broadcast nested-loop / cartesian:
    * q09 is the deliberate tiny×tiny cross join; q60/q63 broadcast a
    * bounded query/codebook set against the corpus (documented in
    * SCALE.md); q22 and q76 broadcast a 1-row corpus-stats aggregate
    * against every row — the benign 1×N broadcast shape, not an N×M
    * blow-up; q95 broadcasts its 1-row min/max stats the same way (a
    * constant-key equi-join degenerates to the identical plan after
    * FoldablePropagation). q126 broadcasts its 1-row 512-byte bloom
    * bitmap the same way — the whole point of the sketch is that the
    * probe is a map-side bit test, not a join. q68 is deliberately NOT
    * here: its candidate generation is a masked-fingerprint equi-join. */
  val allowed = Set("q09_cross_join", "q60_cosine_topk", "q63_ivf_ann",
    "q22_scalar_subquery", "q76_bm25", "q95_histogram",
    "q126_bloom_decontamination", "q127_kmv_set_algebra",
    // q142 crosses each doc against TWO 1-row broadcast model
    // aggregates (the collected ≤|langs|·100-row rank profile and the
    // candidate list — the q76 1-row stats shape); the fused
    // LangIdScore pass scores entirely map-side.
    "q142_langid_ngram",
    // q144/q145 route vectors over the broadcast k=8 codebook — the
    // q63 bounded-codebook shape (the candidate scan itself is an
    // equi-join on cell).
    "q144_kmeans_train", "q145_ivf_trained",
    // q146's corpus totals (N tokens, B bigrams) are broadcast 1-row
    // stats crosses (the q76/q95 shape).
    "q146_pmi_collocations",
    // q149 broadcasts the three 1-row learned BPE merges against the
    // word stream (the bounded-model shape: 3 rows of model state,
    // map-side replace); q151 crosses three 1-row per-table violation
    // aggregates to fuse them into one constraint report (1×1×1).
    "q149_bpe_apply", "q151_constraint_checks",
    // q154 broadcasts the bounded held-out query set against the
    // corpus scan — the q60 shape with a vote tail.
    "q154_knn_classify",
    // q160 crosses the 1-row vocab-size stat and the 5-row label-stats
    // model frame against token counts (the q76 1×N / q142 bounded
    // label fan-out shapes); the likelihood table itself joins on
    // token as a plain equi-join.
    "q160_naive_bayes",
    // q163 crosses the 1-row order-count stat against the rule list
    // (the q76 shape); pair candidates come from the per-order
    // self-join, an equi-join on the order key.
    "q163_assoc_rules",
    // q166 crosses three 1-row aggregates (exact size + two CMS inner
    // products) into the single report row — the q151 1×1×1 shape.
    "q166_join_size_cms",
    // q174 crosses the 1-row probe vector and the 1-row N/P totals
    // against the scored stream (the q76/q95 1×N stats shape).
    "q174_lift_deciles",
    // q176's dense arm and q177/q178's labeled ranking broadcast the
    // bounded query set against the corpus (the q60 shape); q176's
    // sparse arm additionally crosses the 1-row corpus stats (the q76
    // shape).
    "q176_rrf_fusion", "q177_rank_eval", "q178_avg_precision",
    // q179 crosses the 1-row corpus token totals (q76 shape); the
    // 16-row bucket ratio table joins as a plain equi-join.
    "q179_dsir_weights",
    // q182 broadcasts the bounded benchmark set against the corpus
    // scan — the q60/q154 shape (a benchmark is small by nature).
    "q182_semantic_decon",
    // q185 crosses the 1-row point-estimate aggregate against the
    // 16-row replicate frame (1×16); q189 crosses the 1-row corpus
    // token total into the piece-cost table — both the q76/q95
    // 1-row-stats shape.
    "q185_poisson_bootstrap", "q189_unigram_viterbi",
    // q193's distortion AUDIT joins two capped (≤80-row) sampled
    // projections on a < b — the q60/q182 bounded-set shape; the
    // projection itself is map-side over the corpus scan.
    "q193_jl_distortion",
    // q194 crosses its 1-row (n, agree) and 1-row chance-term
    // aggregates against the ≤9-row cell table — the q151/q166 shape.
    "q194_cohens_kappa",
    // q196 routes vectors over the broadcast k=8 trained codebook —
    // the q144/q145 bounded-codebook shape.
    "q196_silhouette",
    // q215 pairs the bounded binary artifact store against itself
    // (an uploads dir, not a scale-factor table); at corpus scale the
    // q68 pigeonhole banding replaces the all-pairs tail.
    "q215_blob_fingerprint",
    // q217 reuses q154's broadcast bounded-query-set kNN shape.
    "q217_macro_f1",
    // q224 crosses the 1-row inferred bounds (q95 shape); q225
    // crosses its three 1-row P/R aggregates (q151/q166 shape).
    "q224_inferred_contracts", "q225_dedup_pr",
    // q228/q234 cross 1-row totals (and q234 the 1-row argmax) onto
    // the scalableCumSum spine — the q76/q95 1-row-stats shape.
    "q228_quantile_transform", "q234_ks_test",
    // q241 crosses the 1-row vocab totals and the O(√N)-bounded
    // (count value, #terms) runs frame against the 3-row k table —
    // the boundary-run probe is a bounded-set non-equi join.
    "q241_vocab_coverage",
    // Q15's global max, Q22's balance threshold, and Q11's global
    // total are 1-row aggregates crossed back broadcast — the
    // q95/q76 1-row-stats shape.
    "q252_tpch_q15", "q254_tpch_q22", "q256_tpch_q11")

  test("no unintentional cartesian/nested-loop joins in any plan") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !allowed.contains(name) && name != "q43_stream_tumbling" =>
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      case _ => None
    }
    assert(offenders.isEmpty, s"nested-loop plans found: $offenders")
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("point lookup pushes its predicate into the parquet scan") {
    val p = plan("q02_point_lookup")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey"),
      s"expected pushed equality filter:\n$p")
  }

  test("q60 scores at full width: a round-robin exchange feeds the streamed side") {
    // embeddings.parquet is one row group, so without the exchange the
    // whole brute-force scoring stage is one task
    val df = SparkEntry.queries("q60_cosine_topk")(spark, dir)
    df.collect()
    val done = df.queryExecution.executedPlan
    val joins = collect(done) { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.size == 1, done)
    val j = joins.head
    val streamed = if (j.buildSide == BuildRight) j.left else j.right
    val exchanges = collect(streamed) { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(exchanges == Seq(RoundRobinPartitioning(spark.sparkContext.defaultParallelism)),
      s"streamed side:\n$streamed")
  }

  test("Exact money sums plan the half-up kernel, not Spark's round") {
    val p = plan("q31_passive_commissions")
    assert(p.contains("round_half_up(") && !p.contains("round("), p)
  }

  test("top-k feeds plan as TakeOrderedAndProject, not global sort") {
    assert(plan("q04_top_n_feed").contains("TakeOrderedAndProject"))
    assert(plan("q65_tpch_q18").contains("TakeOrderedAndProject"))
  }

  test("grouped top-k gets partial (map-side) WindowGroupLimit pushdown") {
    val p = plan("q84_grouped_topk")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"expected Partial+Final WindowGroupLimit pair:\n$p")
  }

  test("pricing summary prunes the lineitem scan to the referenced columns") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan should not read unreferenced columns:\n$readSchema")
  }

  test("dimension joins broadcast the small side") {
    val p = plan("q05_regional_revenue")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
  }

  test("merge upsert anti-join broadcasts the update keys") {
    val p = plan("q71_merge_upsert")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast left-anti join:\n$p")
  }

  test("scalable rank has no single-partition exchange (q46's global window does)") {
    val p = plan("q81_scalable_rank")
    assert(!p.contains("SinglePartition"), s"single-reducer stage found:\n$p")
    // sanity: the baseline q46 really is the single-reducer shape this
    // query exists to replace
    assert(plan("q46_ntile_dist").contains("SinglePartition"))
  }

  test("per-key windowed ops never plan a single-reducer stage") {
    // q91 packing partitions its running offset by source shard; q98's
    // z-score frame partitions by user; q99's normalizing window by
    // cohort — none may degrade to a global SinglePartition sort
    for (q <- Seq("q91_sequence_pack", "q98_zscore_anomaly", "q99_retention_cohorts")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q grew a single-reducer stage:\n$p")
    }
  }

  test("aggregates run partial then final (map-side combine present)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate pair:\n$p")
  }

  test("q176's broadcast gate: hint under the 2M-row gate, shuffle fallback past it") {
    // The gate decision rides a MEASURED count, so the >2M branch can
    // be asserted without materializing a >2M-row fixture: hand
    // gateBroadcast the measurement each side of the gate and check
    // the join strategy that plans. Auto-broadcast is disabled so the
    // fallback's shape is the gate's doing, not the planner's own
    // size estimate of the tiny test frame.
    import spark.implicits._
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val big = (1 to 64).map(i => (i.toLong, s"t$i")).toDF("doc_id", "term")
      val side = (1 to 16).map(i => (i.toLong, i * 10L)).toDF("doc_id", "dl")
      def planOf(measured: Long): String =
        big.join(graft.engine.Retrieval.gateBroadcast(side, measured), "doc_id")
          .queryExecution.executedPlan.toString
      val under = planOf(graft.engine.Retrieval.BroadcastGateRows)
      assert(under.contains("BroadcastHashJoin"),
        s"measured<=gate must broadcast:\n$under")
      val over = planOf(graft.engine.Retrieval.BroadcastGateRows + 1)
      assert(!over.contains("BroadcastHashJoin"),
        s"measured>gate must NOT broadcast:\n$over")
      assert(over.contains("SortMergeJoin") || over.contains("ShuffledHashJoin"),
        s"fallback must be a co-partitioned shuffle join:\n$over")
    }
  }

  test("q163's sort+RLE pair count matches groupBy count exactly") {
    // Round 13: the packed-pair count rides repartition(ab) +
    // sortWithinPartitions(ab) + a mapPartitions run-length count
    // with the ≥3 threshold applied in-stream (the hash aggregate's
    // |pairs|-sized working set was the sf30 spill; a declarative
    // groupBy-after-sort was rejected because EliminateSorts drops
    // the sort as redundant). Hash partitioning sends every
    // occurrence of a key to one partition, so per-partition RLE
    // counts are exact global counts — assert that equivalence on a
    // multiset with duplicates straddling the threshold.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val keys = (1L to 400L).flatMap(k => Seq.fill((k % 7).toInt + 1)(k))
    val df = keys.toDF("ab")
    val expected = df.groupBy($"ab").agg(count(lit(1)).as("s_ab"))
      .filter($"s_ab" >= 3L)
      .orderBy($"ab").as[(Long, Long)].collect().toSeq
    val rle = df.repartition($"ab").sortWithinPartitions($"ab")
      .as[Long]
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[(Long, Long)] {
          private var nextRun: (Long, Long) = advance()
          private def advance(): (Long, Long) = {
            while (in.hasNext) {
              val k = in.next(); var c = 1L
              while (in.hasNext && in.head == k) { in.next(); c += 1 }
              if (c >= 3L) return (k, c)
            }
            null
          }
          def hasNext: Boolean = nextRun != null
          def next(): (Long, Long) = {
            val r = nextRun; nextRun = advance(); r
          }
        }
      }
      .toDF("ab", "s_ab")
      .orderBy($"ab").as[(Long, Long)].collect().toSeq
    assert(rle == expected, s"RLE count diverged from groupBy count")
  }

  test("q210's rank is generated, not a global window over the vocabulary") {
    // Round 13: the corpus-growing Window.orderBy(freq desc, term)
    // rank (a SinglePartition sort of the full vocabulary) is gone —
    // ranks regenerate from the count-of-counts runs domain by integer
    // `sequence` explode. The remaining global window walks only that
    // O(sqrt N) runs domain.
    val p = plan("q210_zipf_slope")
    assert(!p.contains("row_number"),
      s"vocab-wide rank window should be gone:\n$p")
    assert(p.contains("sequence"), s"expected generated rank ranges:\n$p")
  }
}
