package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Tables => T}
import graft.functions.CosineSimilarity

/** Embedding similarity search (SURVEY.md §2.10): brute-force cosine
  * top-k as the exact baseline, sign-LSH bucketed ANN as the scale
  * path, and cosine near-duplicate pairs.
  *
  * The kernel is the codegen'd `CosineSimilarity` Catalyst expression
  * (graft.functions) — a fused primitive loop, not a UDF.
  *
  * Scale design: brute force broadcasts the (small) query set against
  * the corpus scan — embarrassingly parallel, no shuffle until top-k;
  * the ANN variant prunes the corpus to the query's LSH bucket first,
  * turning the cross join into an equi-join on bucket — the same
  * shape IVF takes with learned centroids instead of sign bits.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** 4-bit sign-LSH bucket from fixed embedding dimensions (1-based
    * positions 1, 9, 17, 25) — deterministic, no trained centroids. */
  private def bucketOf(emb: Column): Column =
    (when(element_at(emb, 1) >= 0f, 1).otherwise(0) +
      when(element_at(emb, 9) >= 0f, 2).otherwise(0) +
      when(element_at(emb, 17) >= 0f, 4).otherwise(0) +
      when(element_at(emb, 25) >= 0f, 8).otherwise(0)).cast("long")

  private val bucketSql =
    """(CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
      | + CASE WHEN embedding[9] >= 0 THEN 2 ELSE 0 END
      | + CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END
      | + CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END)""".stripMargin

  /** w-bit sign-LSH bucket whose WIDTH FOLLOWS THE DATA
    * (Dedup.adaptiveWidth): bit i reads dimension 1 + (i%8)·8 + i÷8 —
    * bits 0–3 hit the same dims (1, 9, 17, 25) as the fixed 4-bit
    * [[bucketOf]], so the 500-vector oracle sf keeps its original
    * output, and the map stays injective through w = 64. A FIXED
    * 4-bit bucket holds n/16 vectors, so within-bucket pair work is
    * n²/32 — quadratic at any fixed width (round 7's q62 rung
    * exclusion); with w tracking bitlen(n), occupancy stays 16–32 and
    * candidate work is ~16·n at every corpus size. */
  private def adaptiveBucket(emb: Column, w: Int): Column =
    (0 until w).map(i =>
      when(element_at(emb, 1 + (i % 8) * 8 + i / 8) >= 0f, 1L << i)
        .otherwise(0L))
      .reduce(_ + _).cast("long")

  /** Two unrolled Lloyd iterations over micro-quantized vectors
    * (k = 8, init = first k vectors by id). Returns (centroids as
    * (cl, dim, qc) rows, final assignment as (vec_id, cl) rows) —
    * shared by q144 (training output) and q145 (trained-IVF search).
    * See q144's comment for the integer-exactness argument.
    *
    * Memoized per (session, dataset): the codebook + assignment are
    * persisted MODEL state (FAISS trains once and serves many
    * searches) — the same materialized-view discipline as the LSH
    * pair list and q122's stored dedup index. Both frames are tiny
    * (k×d and |corpus| thin rows), so residency is negligible;
    * SessionMemo.releaseAll is the usual bound. */
  private val codebookCache = new SessionMemo[String]
  private def trainCodebook(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val a2 = codebookCache.getOrElseUpdate(s, s"$dir#assign")(
      trainCodebookUncached(s, dir)._2.localCheckpoint())
    // final centroid table = one update step over the (checkpointed)
    // final assignment — training never runs twice
    val c2 = codebookCache.getOrElseUpdate(s, s"$dir#cents")(
      centroidUpdate(quantized(s, dir), a2).localCheckpoint())
    (c2, a2)
  }
  /** (vec_id, dim, qv) micro-quantized exploded vectors. */
  private def quantized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.spread(T.embeddings(s, dir))
      .select($"vec_id", posexplode($"embedding").as(Seq("dim", "v")))
      .select($"vec_id", $"dim".cast("long").as("dim"),
        floor($"v".cast("double") * 1000000.0).cast("long").as("qv"))
  }
  /** Lloyd update: mean (floor-div) of member vectors per (cl, dim). */
  private def centroidUpdate(vq: DataFrame, a: DataFrame): DataFrame = {
    val s = vq.sparkSession
    import s.implicits._
    a.join(vq, "vec_id")
      .groupBy($"cl", $"dim")
      .agg(sum($"qv").as("s"), count(lit(1)).as("n"))
      .select($"cl", $"dim",
        floor($"s".cast("double") / $"n".cast("double")).cast("long").as("qc"))
  }
  private def trainCodebookUncached(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val vq = quantized(s, dir)
    val c0 = vq.filter($"vec_id" < 8L)
      .select($"vec_id".as("cl"), $"dim", $"qv".as("qc"))
    def assign(cent: DataFrame): DataFrame = vq
      .join(broadcast(cent), "dim")
      .groupBy($"vec_id", $"cl")
      .agg(sum(($"qv" - $"qc") * ($"qv" - $"qc")).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"dist", $"cl")))
      .filter($"rn" === 1).select($"vec_id", $"cl")
    val a1 = assign(c0)
    val c1 = centroidUpdate(vq, a1)
    val a2 = assign(c1)
    (centroidUpdate(vq, a2), a2)
  }

  val queries: Map[String, Q] = Map(
    // K-means codebook TRAINING in-engine (Lloyd's algorithm, two
    // unrolled iterations, k = 8) — the step that turns q63's IVF from
    // "centroids are given" into a self-contained pipeline (FAISS
    // trains its coarse quantizer exactly this way, then assigns).
    // Determinism device: vectors AND centroids live in micro-scaled
    // INTEGER space (floor(v·1e6), the q77 discipline), so squared-L2
    // distances are exact integers (≤ 64·(2e6)² ≈ 2.6e14, well inside
    // long), assignment argmin has a total (dist, cluster) tie-break,
    // and the centroid update floor(Σqv/n) is one IEEE divide of
    // exactly-representable integers — every engine computes the
    // identical codebook, under any partitioning. Scale shape: the
    // k×d centroid table is broadcast (the only state); assignment is
    // a map-side equi-join fan-out on dim; the update is one keyed
    // aggregation per iteration. Init = first k vectors by id (the
    // deterministic seeding a reproducible pipeline wants).
    "q144_kmeans_train" -> ((s, dir) => {
      import s.implicits._
      val (c2, a2) = trainCodebook(s, dir)
      val sizes = a2.groupBy($"cl").agg(count(lit(1)).as("n"))
      c2.join(sizes, "cl")
        .select($"cl", $"dim", $"qc", $"n")
        .orderBy($"cl", $"dim")
    }),

    // Trained-IVF ANN end-to-end: q144's Lloyd codebook → assign every
    // vector to its nearest trained centroid (the inverted file) →
    // MULTI-PROBE search (each query visits its nprobe = 2 nearest
    // cells, the recall lever IVF actually ships with) → exact re-rank
    // inside the probed cells. This closes the IVF loop q63 opens with
    // given centroids: train, index, search, all in-engine. The search
    // path never explodes dimensions — vectors travel as micro-int
    // ARRAYS and distances are one fused array fold per pair
    // (integer arithmetic, so fold order is irrelevant and the result
    // is engine- and partitioning-exact). The oracle recomputes the
    // whole thing in per-dimension explode space — agreement across
    // two formulations, not a replay of one. Scale shape: codebook
    // broadcast (k×d longs); cell routing map-side; candidate scan is
    // an equi-join on cell touching nprobe/k of the corpus per query.
    "q145_ivf_trained" -> ((s, dir) => {
      import s.implicits._
      val (c2, _) = trainCodebook(s, dir)
      val cents = c2.groupBy($"cl").agg(
        expr("transform(sort_array(collect_list(struct(dim, qc))), s -> s.qc)")
          .as("ca"))
      val vecs = T.spread(T.embeddings(s, dir)).select($"vec_id",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
          .as("qa"))
      val d2 = expr(
        "aggregate(zip_with(qa, ca, (a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
      val routed = vecs.crossJoin(broadcast(cents)).select(
        $"vec_id", $"qa", $"cl", d2.as("dist"))
      val assigned = routed
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"dist", $"cl")))
        .filter($"rn" === 1).select($"vec_id", $"qa", $"cl".as("cell"))
      // capped probe set (fixed-size eval benchmark; vacuous at the
      // oracle sfs) — same device as q154/q60/q61
      val probes = routed.filter($"vec_id" % 25 === 0 && $"vec_id" < 2000)
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"dist", $"cl")))
        .filter($"rn" <= 2)
        .select($"vec_id".as("qid"), $"qa".as("qqa"), $"cl".as("cell"))
      val pd = expr(
        "aggregate(zip_with(qqa, qa, (a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
      assigned.join(probes, "cell")
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id".as("cid"), $"cell", pd.as("dist"))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"qid").orderBy($"dist", $"cid")).cast("long"))
        .filter($"rank" <= 3L)
        .orderBy($"qid", $"rank")
    }),

    // k-NN majority-vote classification — the evaluation harness an
    // embedding pipeline runs after indexing: every 25th vector is a
    // held-out query, its label predicted by the majority label of its
    // 5 nearest neighbors (cosine, exact), ties broken toward the
    // smaller label. Composes the q60 top-k kernel with a per-query
    // grouped argmax: the vote count is a ≤5-row aggregate per query
    // and the argmax a ≤|labels|-row window — both trivial next to the
    // scan. Scale shape = q60's: the bounded query set broadcasts, the
    // corpus streams map-side through the codegen'd cosine kernel, and
    // per-query state never exceeds k rows (TakeOrderedAndProject
    // semantics via the rank window). Swap the exact scan for the IVF
    // route (q145) and the same vote tail serves 100 TB.
    "q154_knn_classify" -> ((s, dir) => {
      import s.implicits._
      val cos = CosineSimilarity.cosineSim(s) _
      val emb = T.spread(T.embeddings(s, dir))
      // the eval probe set is CAPPED like q177/q178's (vec_id % 25 = 0
      // AND < 2000 ⇒ ≤80 vectors at any sf — an eval benchmark is
      // fixed-size by nature, it does not grow with the corpus): the
      // brute-force scoring pass stays |corpus|×80, linear in data.
      // The cap is vacuous at the oracle sfs (vec_id < 2000 always).
      val q = T.embeddings(s, dir)
        .filter($"vec_id" % 25 === 0 && $"vec_id" < 2000)
        .select($"vec_id".as("qid"), $"embedding".as("qe"),
          $"label".cast("long").as("true_label"))
      val wTop = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
      val top = emb.join(broadcast(q), $"vec_id" =!= $"qid")
        .select($"qid", $"true_label", $"vec_id".as("cid"),
          $"label".cast("long").as("nb_label"),
          round(cos($"qe", $"embedding"), 6).as("cos_sim"))
        .withColumn("rank", row_number().over(wTop))
        .filter($"rank" <= 5)
      val wVote = Window.partitionBy($"qid").orderBy($"votes".desc, $"nb_label")
      top.groupBy($"qid", $"true_label", $"nb_label")
        .agg(count(lit(1)).as("votes"), max($"cos_sim").as("best_sim"))
        .withColumn("rn", row_number().over(wVote))
        .filter($"rn" === 1)
        .select($"qid", $"true_label", $"nb_label".as("pred_label"),
          $"votes", $"best_sim",
          ($"nb_label" === $"true_label").as("correct"))
        .orderBy($"qid")
    }),

    // Exact brute-force cosine top-5 per query vector (queries =
    // every 50th vector), ranked on the rounded score for a total,
    // oracle-stable order. The probe set is CAPPED like q154's
    // (vec_id < 2000 ⇒ ≤40 queries at any sf — an eval benchmark is
    // fixed-size by nature): the brute-force scan stays |corpus|×40,
    // linear in data, and the result at most 40×5 rows, sorted in one
    // partition. The cap is vacuous at the oracle sfs. The corpus side
    // is spread (q154's device): the scoring stage then runs at full
    // width instead of in the one-task scan of the one-row-group file.
    "q60_cosine_topk" -> ((s, dir) => {
      import s.implicits._
      val cos = CosineSimilarity.cosineSim(s) _
      val emb = T.embeddings(s, dir)
      val q = emb.filter($"vec_id" % 50 === 0 && $"vec_id" < 2000)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      val scored = T.spread(emb).join(broadcast(q), $"vec_id" =!= $"qid")
        .select($"qid", $"vec_id".as("cid"),
          round(cos($"qe", $"embedding"), 6).as("cos_sim"))
      val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 5)
        .transform(Bounded.sortedInOne($"qid", $"rank"))
    }),

    // LSH-bucketed approximate NN: candidates restricted to the
    // query's sign bucket (≈1/16 of the corpus), top-3 per query.
    // Probe set capped at vec_id < 2000 (fixed-size eval benchmark,
    // vacuous at the oracle sfs) — per-query work is cell-local and
    // the query count no longer grows with the corpus. The corpus side
    // is spread as in q60.
    "q61_lsh_ann" -> ((s, dir) => {
      import s.implicits._
      val cos = CosineSimilarity.cosineSim(s) _
      val raw = T.embeddings(s, dir)
      val emb = T.spread(raw).withColumn("bucket", bucketOf($"embedding"))
      val q = raw.filter($"vec_id" % 25 === 0 && $"vec_id" < 2000)
        .select($"vec_id".as("qid"), $"embedding".as("qe"), bucketOf($"embedding").as("bucket"))
      val scored = emb.join(broadcast(q), Seq("bucket"))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id".as("cid"), $"bucket",
          round(cos($"qe", $"embedding"), 6).as("cos_sim"))
      val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 3)
        .orderBy($"qid", $"rank")
    }),

    // IVF-style ANN: "centroids" are a deterministic coarse codebook
    // (the first 8 vectors); every vector is assigned to its
    // max-cosine cell, queries search only their own cell. Same plan
    // shape as trained-kmeans IVF — swap the codebook source.
    "q63_ivf_ann" -> ((s, dir) => {
      import s.implicits._
      val cos = CosineSimilarity.cosineSim(s) _
      // spread: the centroid-assignment kernel (8 cosines per vector)
      // otherwise runs in the single-task scan of the one-row-group file
      val emb = T.spread(T.embeddings(s, dir))
      val cents = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("cent_id"), $"embedding".as("ce"))
      val wAssign = Window.partitionBy($"vec_id")
        .orderBy($"cent_cos".desc, $"cent_id")
      val assigned = emb.crossJoin(broadcast(cents))
        .select($"vec_id", $"embedding", $"cent_id",
          round(cos($"embedding", $"ce"), 6).as("cent_cos"))
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1)
        .select($"vec_id", $"embedding", $"cent_id".as("cell"))
      // capped probe set (fixed-size eval benchmark; vacuous at the
      // oracle sfs) — same device as q154/q60/q61
      val q = assigned.filter($"vec_id" % 25 === 0 && $"vec_id" < 2000)
        .select($"vec_id".as("qid"), $"embedding".as("qe"), $"cell")
      val wRank = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
      assigned.join(broadcast(q), Seq("cell"))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id".as("cid"), $"cell",
          round(cos($"qe", $"embedding"), 6).as("cos_sim"))
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .filter($"rank" <= 3)
        .orderBy($"qid", $"rank")
    }),

    // Per-label embedding centroids — the codebook-training primitive
    // behind IVF (q63 consumes exactly this shape) and the class-mean
    // feature of embedding-space analytics. Element-wise mean via
    // posexplode → per-(label, dim) aggregation; sums are FLOOR-
    // quantized to a 1e-6 grid first, because a plain double sum is
    // partition-order-dependent and `round()` near .5 diverges between
    // engines (STATUS.md) — floor of the identical IEEE product is
    // bit-stable in both. Partial aggregation stays fully combining:
    // one shuffle of |labels|×64 rows no matter the corpus size.
    "q77_label_centroids" -> ((s, dir) => {
      import s.implicits._
      val q = floor($"v".cast("double") * 1000000.0).cast("long")
      T.spread(T.embeddings(s, dir))
        .select($"label".cast("long").as("label"),
          posexplode($"embedding").as(Seq("dim", "v")))
        .select($"label", ($"dim" + 1).cast("long").as("dim"), q.as("qv"))
        .groupBy($"label", $"dim")
        .agg(count(lit(1)).as("n_vecs"),
          (sum($"qv").cast("double") / 1000000.0 /
            count(lit(1)).cast("double")).as("centroid"))
        .orderBy($"label", $"dim")
    }),

    // Embedding near-duplicate pairs: same LSH bucket AND cosine ≥ 0.3
    // (threshold calibrated to the synthetic corpus's score range).
    // Composed index-build manifest: shard + dedup + quantization
    // stats in one verified dataflow (see embeddingRefinery).
    "q105_embedding_refinery" -> ((s, dir) => embeddingRefinery(s, dir)),

    "q62_embedding_neardup" -> ((s, dir) => {
      import s.implicits._
      val cos = CosineSimilarity.cosineSim(s) _
      val base = T.spread(T.embeddings(s, dir))
      val w = Dedup.adaptiveWidth(base.count(), 4, 20)
      val emb = base.withColumn("bucket", adaptiveBucket($"embedding", w))
      val a = emb.select($"vec_id".as("v1"), $"embedding".as("e1"), $"bucket")
      val b = emb.select($"vec_id".as("v2"), $"embedding".as("e2"), $"bucket")
      a.join(b, Seq("bucket"))
        .filter($"v1" < $"v2")
        .select($"bucket", $"v1", $"v2", round(cos($"e1", $"e2"), 6).as("cos_sim"))
        .filter($"cos_sim" >= 0.3)
        .orderBy($"v1", $"v2")
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // deduplication prunes near-duplicate MEANING — cluster the
    // embedding space (q144's trained Lloyd codebook), compare pairs
    // ONLY within a cluster, and drop every vector that has an earlier
    // (smaller vec_id) same-cluster neighbor above the similarity
    // threshold (keep-first election, q62's fixture threshold). The
    // clustering is the blocking structure: pairwise work is Σ_c|c|²
    // instead of n², and at 100 TB the cluster count grows with the
    // corpus (k ~ √n, SemDeDup uses 50k clusters for LAION) so each
    // cell stays bounded — the same cell-local discipline as IVF
    // (q63/q145). Cosines reuse the codegen'd kernel; the oracle
    // replays clustering AND pair election in SQL, so the
    // cluster-blocked keep-set is independently re-derived.
    "q168_semdedup" -> ((s, dir) => {
      import s.implicits._
      val cos = CosineSimilarity.cosineSim(s) _
      val (_, a2) = trainCodebook(s, dir)
      val asg = a2.join(T.spread(T.embeddings(s, dir)), "vec_id")
        .select($"vec_id", $"cl", $"embedding").persist()
      val earlier = asg.select($"cl", $"vec_id".as("keep_id"),
        $"embedding".as("ek"))
      val near = asg.join(earlier, Seq("cl"))
        .filter($"keep_id" < $"vec_id")
        .filter(round(cos($"ek", $"embedding"), 6) >= 0.3)
        .groupBy($"cl", $"vec_id").agg(count(lit(1)).as("n_near"))
      asg.select($"vec_id", $"cl").join(near, Seq("cl", "vec_id"), "left")
        .select($"vec_id", $"cl".as("cell"),
          coalesce($"n_near", lit(0L)).as("n_near"),
          when(coalesce($"n_near", lit(0L)) > 0L, 1L).otherwise(0L)
            .as("is_dup"))
        .orderBy($"vec_id")
    }),

    // SEMANTIC decontamination — the embedding-space complement of
    // q74's n-gram benchmark decontamination (paraphrased leakage
    // passes an n-gram probe; it does not pass a cosine one). The
    // held-out set (every 50th vector, the q177 probe convention)
    // BROADCASTS; each corpus vector takes its max cosine against the
    // bench set in one map-side pass — the q60 codegen'd kernel, an
    // argmax over a bounded broadcast, never a corpus×corpus join.
    // At 100 TB benchmark sets stay small (thousands of rows), so the
    // broadcast shape is exactly right; if the bench set itself grew,
    // the q61/q63 bucketed forms take over. Flag at max_cos ≥ 0.35
    // with the (cos desc, bench id) argmax recorded for audit.
    "q182_semantic_decon" -> ((s, dir) => {
      import s.implicits._
      val cos = CosineSimilarity.cosineSim(s) _
      val emb = T.spread(T.embeddings(s, dir))
      // a benchmark set is bounded by nature: vec_id < 2000 caps it at
      // 40 rows at any sf (identical at the tested scales; without the
      // cap the bench set grows with the corpus and the pass goes
      // quadratic — measured ×11 wall at ×10 data)
      val bench = T.embeddings(s, dir)
        .filter($"vec_id" % 50 === 0 && $"vec_id" < 2000)
        .select($"vec_id".as("bench_id"), $"embedding".as("be"))
      val w = Window.partitionBy($"vec_id")
        .orderBy($"cos_sim".desc, $"bench_id")
      emb.filter($"vec_id" % 50 =!= 0)
        .crossJoin(broadcast(bench))
        .select($"vec_id", $"bench_id",
          round(cos($"embedding", $"be"), 6).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"vec_id", $"bench_id".as("nearest_bench"),
          $"cos_sim".as("max_cos"), ($"cos_sim" >= 0.35).as("flagged"))
        .orderBy($"vec_id")
    }),

    // Johnson-Lindenstrauss random projection (64 → 8 dims) with a
    // measured distortion audit. The projection is a fixed Rademacher
    // (±1) sign matrix — folded once in Scala ([[jlSign]]) and
    // interpolated as literal ADD/SUBTRACT chains into BOTH engines,
    // so there is no runtime RNG and the left-assoc IEEE sum order is
    // token-identical — making each projected coordinate a pure
    // MAP-SIDE expression over the corpus scan: the dimensionality
    // reducer that runs before ANN indexing at 100 TB (8× smaller
    // vectors ⇒ 8× cheaper distance kernels; recall the same
    // plan-shape argument as q62's int8 quantization). The audit
    // computes, per sampled pair, squared distance in original vs
    // projected space (scaled by d/k via an exact dyadic ×0.125) and
    // their ratio — the JL lemma's measurable guarantee. The pair set
    // is CAPPED (vec_id % 25 = 0 AND < 2000 ⇒ ≤80 vectors at any sf,
    // the q182 bounded-set discipline), so the audit join stays a
    // constant-size broadcast while the projection itself scales
    // linearly.
    "q193_jl_distortion" -> ((s, dir) => {
      import s.implicits._
      val base = T.embeddings(s, dir)
        .filter($"vec_id" % 25 === 0 && $"vec_id" < 2000)
      def projCols(prefix: String): Seq[Column] = (0 until JlK).map { j =>
        (0 until JlD).map { i =>
          val e = element_at($"embedding", i + 1).cast("double")
          if (jlSign(j, i) > 0) e else -e
        }.reduce(_ + _).as(s"$prefix${j + 1}")
      }
      val pa = base.select($"vec_id".as("a") +: $"embedding".as("ea") +:
        projCols("pa"): _*)
      val pb = base.select($"vec_id".as("b") +: $"embedding".as("eb") +:
        projCols("pb"): _*)
      val d2o = (0 until JlD).map { i =>
        val d = element_at($"ea", i + 1).cast("double") -
          element_at($"eb", i + 1).cast("double")
        d * d
      }.reduce(_ + _)
      val d2p = (0 until JlK).map { j =>
        val d = col(s"pa${j + 1}") - col(s"pb${j + 1}")
        d * d
      }.reduce(_ + _)
      // Coincident probe vectors (d2o = 0) would hit x/0 — Spark
      // yields Inf/NaN while DuckDB's behavior is version-dependent,
      // so both sides emit NULL for that edge instead of dividing.
      pa.join(broadcast(pb), $"a" < $"b")
        .select($"a", $"b", round(d2o, 6).as("d2_orig"),
          round(d2p * lit(0.125), 6).as("d2_proj_scaled"),
          when(d2o > lit(0.0), round(d2p * lit(0.125) / d2o, 6))
            .as("ratio"))
        .orderBy($"a", $"b")
    }),

    // Simplified (centroid-based) silhouette score over q144's trained
    // Lloyd clustering — the clustering-quality metric an embedding
    // pipeline reports after training: a = squared distance to the
    // OWN centroid, b = squared distance to the nearest OTHER
    // centroid, s = (b − a)/max(a, b) ∈ [0, 1] here since a is the
    // argmin. The centroid-based form is THE scalable silhouette —
    // the classical all-pairs definition is O(n²) and never runs at
    // corpus scale; this one is one broadcast-codebook fan-out per
    // vector (k = 8 rows), exactly the q145 routing pass reused with
    // a rank ≤ 2 window instead of rank = 1. Determinism: distances
    // are exact integers in micro-int space, the ratio is ONE IEEE
    // divide of exact integers, and per-vector s is floored to
    // integer micro-units BEFORE the per-cluster mean — so the mean
    // is an order-free integer sum + one divide (no float
    // accumulation across rows, the q77 discipline).
    "q196_silhouette" -> ((s, dir) => {
      import s.implicits._
      val (c2, _) = trainCodebook(s, dir)
      val cents = c2.groupBy($"cl").agg(
        expr("transform(sort_array(collect_list(struct(dim, qc))), s -> s.qc)")
          .as("ca"))
      val vecs = T.spread(T.embeddings(s, dir)).select($"vec_id",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
          .as("qa"))
      val d2 = expr(
        "aggregate(zip_with(qa, ca, (a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
      val w = Window.partitionBy($"vec_id").orderBy($"dist", $"cl")
      val ranked = vecs.crossJoin(broadcast(cents))
        .select($"vec_id", $"cl", d2.as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
      val own = ranked.filter($"rn" === 1)
        .select($"vec_id", $"cl", $"dist".as("d2_own"))
      val nxt = ranked.filter($"rn" === 2)
        .select($"vec_id", $"dist".as("d2_next"))
      own.join(nxt, "vec_id")
        .withColumn("sil_micro",
          floor(($"d2_next" - $"d2_own").cast("double") /
            greatest($"d2_own", $"d2_next").cast("double") * lit(1000000.0))
            .cast("long"))
        // Per-cluster mean stays in integer micro-units: floor(Σ/n) of
        // non-negative exact integers (sil_micro ≥ 0 since a is the
        // argmin), the same device as the centroid update — the r6
        // driver's one hash fail lived in the former round(mean, 6)
        // float boundary, so the boundary is removed, not nudged.
        .withColumn("cluster_mean_sil_micro",
          floor(sum($"sil_micro").over(Window.partitionBy($"cl")).cast("double") /
            count(lit(1)).over(Window.partitionBy($"cl")).cast("double"))
            .cast("long"))
        .select($"vec_id", $"cl", $"d2_own", $"d2_next", $"sil_micro",
          $"cluster_mean_sil_micro")
        .orderBy($"vec_id")
    }),

    // Per-class precision/recall/F1 + macro-F1 over the kNN
    // classifier's predictions — the evaluation table accuracy alone
    // hides (a classifier can score 90% accuracy while one minority
    // class gets F1 = 0). Exactness device: F1 collapses to the pure
    // integer ratio 2·TP/(2·TP+FP+FN) — no P and R floats ever
    // materialize — floored to micro-units; macro-F1 is then an
    // integer mean over the bounded label set. The prediction pass is
    // q154's broadcast-kernel shape; the confusion tail aggregates
    // |labels| rows.
    "q217_macro_f1" -> ((s, dir) => {
      import s.implicits._
      val cos = CosineSimilarity.cosineSim(s) _
      val emb = T.spread(T.embeddings(s, dir))
      // the eval probe set is CAPPED like q177/q178's (vec_id % 25 = 0
      // AND < 2000 ⇒ ≤80 vectors at any sf — an eval benchmark is
      // fixed-size by nature, it does not grow with the corpus): the
      // brute-force scoring pass stays |corpus|×80, linear in data.
      // The cap is vacuous at the oracle sfs (vec_id < 2000 always).
      val q = T.embeddings(s, dir)
        .filter($"vec_id" % 25 === 0 && $"vec_id" < 2000)
        .select($"vec_id".as("qid"), $"embedding".as("qe"),
          $"label".cast("long").as("true_label"))
      val wTop = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
      val top = emb.join(broadcast(q), $"vec_id" =!= $"qid")
        .select($"qid", $"true_label", $"vec_id".as("cid"),
          $"label".cast("long").as("nb_label"),
          round(cos($"qe", $"embedding"), 6).as("cos_sim"))
        .withColumn("rank", row_number().over(wTop))
        .filter($"rank" <= 5)
      val wVote = Window.partitionBy($"qid").orderBy($"votes".desc, $"nb_label")
      val preds = top.groupBy($"qid", $"true_label", $"nb_label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("rn", row_number().over(wVote))
        .filter($"rn" === 1)
        .select($"qid", $"true_label", $"nb_label".as("pred_label"))
      val labels = preds.select($"true_label".as("label"))
        .unionByName(preds.select($"pred_label".as("label"))).distinct()
      val tp = preds.filter($"true_label" === $"pred_label")
        .groupBy($"true_label".as("label")).agg(count(lit(1)).as("tp"))
      val fp = preds.filter($"true_label" =!= $"pred_label")
        .groupBy($"pred_label".as("label")).agg(count(lit(1)).as("fp"))
      val fn = preds.filter($"true_label" =!= $"pred_label")
        .groupBy($"true_label".as("label")).agg(count(lit(1)).as("fn"))
      labels
        .join(tp, Seq("label"), "left").join(fp, Seq("label"), "left")
        .join(fn, Seq("label"), "left")
        .select($"label", coalesce($"tp", lit(0L)).as("tp"),
          coalesce($"fp", lit(0L)).as("fp"), coalesce($"fn", lit(0L)).as("fn"))
        .withColumn("f1_micro",
          expr("(2 * tp * 1000000) div (2 * tp + fp + fn)"))
        .withColumn("macro_f1_micro", expr(
          "CAST(sum(f1_micro) OVER () div count(*) OVER () AS BIGINT)"))
        .select($"label", $"tp", $"fp", $"fn", $"f1_micro",
          $"macro_f1_micro",
          ($"macro_f1_micro".cast("double") / lit(1000000.0)).as("macro_f1"))
        .orderBy($"label")
    }))

  /** Fixed Rademacher JL sign matrix cell (k=8 rows × d=64 cols): a
    * splitmix-style bit scramble of the cell index, folded once here
    * and interpolated into both engines — no runtime randomness. */
  private val JlK = 8
  private val JlD = 64
  private def jlSign(j: Int, i: Int): Int = {
    val x = (j * 64 + i + 1).toLong * 0x9E3779B97F4A7C15L
    val z = x ^ (x >>> 31)
    if (((z >>> 17) & 1L) == 1L) 1 else -1
  }

  /** SQL rendering of one projected coordinate — the identical ±term
    * chain [[jlSign]] drives on the Spark side, same left-assoc order. */
  private def jlProjSql(alias: String, j: Int): String =
    (0 until JlD).map { i =>
      val t = s"CAST($alias.embedding[${i + 1}] AS DOUBLE)"
      if (i == 0) { if (jlSign(j, i) > 0) t else s"(- $t)" }
      else if (jlSign(j, i) > 0) s" + $t" else s" - $t"
    }.mkString

  /** Multi-probe sign-LSH top-k — the recall/cost knob on q61's
    * single-bucket search. Candidates come from the query's own sign
    * bucket plus the Hamming-nearest probe buckets (signature with 1,
    * then 2, bits flipped): the buckets a near neighbor most likely
    * fell into when it straddled a hyperplane. probes=1 is exactly
    * q61's plan; probes=16 visits every bucket and IS brute force.
    * AnnRecallSpec measures the curve (recall monotone in probes,
    * exhaustive probing ≡ exact top-k) — the knob a 100 TB deployment
    * tunes instead of paying the full corpus scan per query.
    *
    * Plan shape is unchanged by probes: the probe list explodes
    * map-side on the (small, broadcast) query side only, so the join
    * stays a bucket equi-join with a probes× bigger build side —
    * corpus-side work scales with probes/16, never all-pairs.
    */
  def lshTopK(s: SparkSession, dir: String, k: Int, probes: Int,
              queryMod: Int = 25): DataFrame = {
    import s.implicits._
    require(probes >= 1 && probes <= 16)
    // probe masks in Hamming-weight order: self, 1-bit flips, 2-bit...
    val masks = (0 until 16).sortBy(Integer.bitCount).take(probes).map(_.toLong)
    val cos = CosineSimilarity.cosineSim(s) _
    val emb = T.embeddings(s, dir).withColumn("bucket", bucketOf($"embedding"))
    val q = emb.filter($"vec_id" % queryMod === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"bucket".as("qb"))
      .withColumn("bucket",
        explode(array(masks.map(m => $"qb".bitwiseXOR(lit(m))): _*)))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
    emb.join(broadcast(q), Seq("bucket"))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"),
        round(cos($"qe", $"embedding"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .orderBy($"qid", $"rank")
  }

  /** IVF search with an nprobe knob — the cell-count sibling of
    * [[lshTopK]]'s bucket probing. The corpus is assigned once to its
    * max-cosine cell (as in q63); a query searches its `nprobe`
    * closest cells instead of only the closest. Each corpus vector
    * lives in exactly one cell, so probing more cells only widens the
    * candidate set — recall is monotone in nprobe, and nprobe = #cells
    * is the exhaustive search. Corpus-side work scales with
    * nprobe/#cells; the probe expansion rides on the broadcast query
    * side. AnnRecallSpec pins the curve.
    */
  def ivfTopK(s: SparkSession, dir: String, k: Int, nprobe: Int,
              nCells: Int = 8, queryMod: Int = 25): DataFrame = {
    import s.implicits._
    val emb = T.spread(T.embeddings(s, dir))
    val cents = emb.filter($"vec_id" < nCells)
      .select($"vec_id".as("cent_id"), $"embedding".as("ce"))
    cellSearch(s, emb, cents, k, nprobe, nCells, queryMod)
  }

  /** [[ivfTopK]] with a TRAINED k-means codebook instead of the
    * deterministic coarse one — the production IVF shape: learn
    * centroids once (spark.ml KMeans, fixed seed), broadcast them,
    * assign + search identically. Codebook quality only moves recall,
    * never correctness of the top-k over the candidates, which is why
    * the search core is shared. */
  def ivfTopKTrained(s: SparkSession, dir: String, k: Int, nprobe: Int,
                     nCells: Int = 8, queryMod: Int = 25,
                     seed: Long = 42L): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val emb = T.spread(T.embeddings(s, dir))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCells).setSeed(seed).setMaxIter(10)
      .fit(emb.select(array_to_vector($"embedding").as("features")))
    val cents = model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
      .toDF("cent_id", "ce")
    cellSearch(s, emb, cents, k, nprobe, nCells, queryMod)
  }

  /** Shared IVF cell search: assign corpus to max-cosine cell, probe
    * the query's `nprobe` closest cells, exact top-k over candidates. */
  private def cellSearch(s: SparkSession, emb: DataFrame, cents: DataFrame,
                         k: Int, nprobe: Int, nCells: Int,
                         queryMod: Int): DataFrame = {
    import s.implicits._
    require(nprobe >= 1 && nprobe <= nCells)
    val cos = CosineSimilarity.cosineSim(s) _
    val wAssign = Window.partitionBy($"vec_id").orderBy($"cent_cos".desc, $"cent_id")
    val ranked = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"cent_id",
        round(cos($"embedding", $"ce"), 6).as("cent_cos"))
      .withColumn("rn", row_number().over(wAssign))
    val assigned = ranked.filter($"rn" === 1)
      .select($"vec_id", $"embedding", $"cent_id".as("cell"))
    val q = ranked.filter($"rn" <= nprobe && $"vec_id" % queryMod === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"cent_id".as("cell"))
    val wRank = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
    assigned.join(broadcast(q), Seq("cell"))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"),
        round(cos($"qe", $"embedding"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter($"rank" <= k)
      .orderBy($"qid", $"rank")
  }

  /** Per-vector symmetric int8 quantization: scale = max|x|/127,
    * q_i = round(x_i / scale) ∈ [-127, 127]. The embedding column
    * shrinks 4× (float32 → int8 + one float scale), which at 100 TB is
    * the difference between an ANN index that fits executor memory and
    * one that spills — and the quantization error on cosine is bounded
    * and small (QuantizationSpec measures it against the float
    * kernel). All map-side higher-order array functions: quantization
    * happens at scan speed with no shuffle.
    */
  def quantizeInt8(emb: DataFrame, vecCol: String): DataFrame =
    emb
      .withColumn("q_scale",
        greatest(
          expr(s"aggregate($vecCol, CAST(0.0 AS DOUBLE), " +
            "(m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))"),
          lit(1e-30)) / 127.0)
      .withColumn("q_vec", expr(
        s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) / q_scale) AS TINYINT))"))

  /** Dequantized float view of [[quantizeInt8]] output — what the
    * similarity kernels consume when the stored column is int8. */
  def dequantize(q: DataFrame, outCol: String): DataFrame =
    q.withColumn(outCol,
      expr("transform(q_vec, v -> CAST(CAST(v AS DOUBLE) * q_scale AS FLOAT))"))

  val oracle: Map[String, String] = Map(
    // The identical ±term projection chains (generated from the same
    // jlSign matrix) and the identical left-assoc distance sums —
    // token-for-token IEEE mirroring, the q60-family device.
    "q193_jl_distortion" -> {
      val proj = (0 until JlK)
        .map(j => s"${jlProjSql("e", j)} AS p${j + 1}").mkString(",\n    ")
      val d2o = (0 until JlD).map { i =>
        val d = s"(CAST(a.embedding[${i + 1}] AS DOUBLE) - CAST(b.embedding[${i + 1}] AS DOUBLE))"
        s"$d * $d"
      }.mkString(" + ")
      val d2p = (0 until JlK).map { j =>
        val d = s"(a.p${j + 1} - b.p${j + 1})"
        s"$d * $d"
      }.mkString(" + ")
      s"""WITH base AS (
         |  SELECT e.vec_id, e.embedding,
         |    $proj
         |  FROM embeddings e WHERE e.vec_id % 25 = 0 AND e.vec_id < 2000)
         |SELECT a.vec_id AS a, b.vec_id AS b,
         |  round($d2o, 6) AS d2_orig,
         |  round(($d2p) * 0.125, 6) AS d2_proj_scaled,
         |  CASE WHEN ($d2o) > 0
         |    THEN round(($d2p) * 0.125 / ($d2o), 6) END AS ratio
         |FROM base a JOIN base b ON a.vec_id < b.vec_id
         |ORDER BY a, b""".stripMargin
    },

    // The q144/q145 Lloyd replay chain (identical micro-int training,
    // two iterations) through the final distance table, then the
    // silhouette tail: rank-1 = own cluster, rank-2 = nearest other,
    // floored micro-ratio, order-free per-cluster integer mean.
    "q196_silhouette" ->
      """WITH vq AS (
        |  SELECT vec_id, CAST(dim1 - 1 AS BIGINT) AS dim,
        |    CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
        |  FROM (
        |    SELECT vec_id, unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS dim1
        |    FROM embeddings)),
        |c0 AS (SELECT vec_id AS cl, dim, qv AS qc FROM vq WHERE vec_id < 8),
        |d1 AS (
        |  SELECT vq.vec_id, c0.cl,
        |    sum((vq.qv - c0.qc) * (vq.qv - c0.qc)) AS dist
        |  FROM vq JOIN c0 USING (dim) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, cl FROM d1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |c1 AS (
        |  SELECT cl, dim,
        |    CAST(floor(CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |      AS BIGINT) AS qc
        |  FROM a1 JOIN vq USING (vec_id) GROUP BY cl, dim),
        |d2 AS (
        |  SELECT vq.vec_id, c1.cl,
        |    sum((vq.qv - c1.qc) * (vq.qv - c1.qc)) AS dist
        |  FROM vq JOIN c1 USING (dim) GROUP BY 1, 2),
        |a2 AS (
        |  SELECT vec_id, cl FROM d2
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |c2 AS (
        |  SELECT cl, dim,
        |    CAST(floor(CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |      AS BIGINT) AS qc
        |  FROM a2 JOIN vq USING (vec_id) GROUP BY cl, dim),
        |d3 AS (
        |  SELECT vq.vec_id, c2.cl,
        |    sum((vq.qv - c2.qc) * (vq.qv - c2.qc)) AS dist
        |  FROM vq JOIN c2 USING (dim) GROUP BY 1, 2),
        |own AS (
        |  SELECT vec_id, cl, dist FROM d3
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |nxt AS (
        |  SELECT vec_id, dist FROM d3
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 2),
        |sil AS (
        |  SELECT o.vec_id, o.cl,
        |    CAST(o.dist AS BIGINT) AS d2_own, CAST(x.dist AS BIGINT) AS d2_next,
        |    CAST(floor(CAST(x.dist - o.dist AS DOUBLE) /
        |      CAST(greatest(o.dist, x.dist) AS DOUBLE) * 1000000.0) AS BIGINT)
        |      AS sil_micro
        |  FROM own o JOIN nxt x USING (vec_id))
        |SELECT vec_id, cl, d2_own, d2_next, sil_micro,
        |  CAST(floor(CAST(sum(sil_micro) OVER (PARTITION BY cl) AS DOUBLE) /
        |    CAST(count(*) OVER (PARTITION BY cl) AS DOUBLE)) AS BIGINT)
        |    AS cluster_mean_sil_micro
        |FROM sil ORDER BY vec_id""".stripMargin,

    // Lloyd replay: identical micro-int quantization, integer
    // distances, (dist, cl) argmin tie-break, and floor(Σ/n) centroid
    // update, two iterations as chained CTEs. dim is 0-based on both
    // sides (generate_subscripts is 1-based → -1).
    "q144_kmeans_train" ->
      """WITH vq AS (
        |  SELECT vec_id, CAST(dim1 - 1 AS BIGINT) AS dim,
        |    CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
        |  FROM (
        |    SELECT vec_id, unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS dim1
        |    FROM embeddings)),
        |c0 AS (SELECT vec_id AS cl, dim, qv AS qc FROM vq WHERE vec_id < 8),
        |d1 AS (
        |  SELECT vq.vec_id, c0.cl,
        |    sum((vq.qv - c0.qc) * (vq.qv - c0.qc)) AS dist
        |  FROM vq JOIN c0 USING (dim) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, cl FROM d1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |c1 AS (
        |  SELECT cl, dim,
        |    CAST(floor(CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |      AS BIGINT) AS qc
        |  FROM a1 JOIN vq USING (vec_id) GROUP BY cl, dim),
        |d2 AS (
        |  SELECT vq.vec_id, c1.cl,
        |    sum((vq.qv - c1.qc) * (vq.qv - c1.qc)) AS dist
        |  FROM vq JOIN c1 USING (dim) GROUP BY 1, 2),
        |a2 AS (
        |  SELECT vec_id, cl FROM d2
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |c2 AS (
        |  SELECT cl, dim,
        |    CAST(floor(CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |      AS BIGINT) AS qc
        |  FROM a2 JOIN vq USING (vec_id) GROUP BY cl, dim),
        |sz AS (SELECT cl, count(*) AS n FROM a2 GROUP BY cl)
        |SELECT c2.cl, c2.dim, c2.qc, sz.n
        |FROM c2 JOIN sz USING (cl) ORDER BY cl, dim""".stripMargin,

    // Trained-IVF replay in per-dimension EXPLODE space (the Spark side
    // works in array/fold space — agreement across formulations): the
    // q144 training chain, then centroid routing, nprobe=2 probes, and
    // exact integer re-rank inside the probed cells.
    "q145_ivf_trained" ->
      """WITH vq AS (
        |  SELECT vec_id, CAST(dim1 - 1 AS BIGINT) AS dim,
        |    CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
        |  FROM (
        |    SELECT vec_id, unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS dim1
        |    FROM embeddings)),
        |c0 AS (SELECT vec_id AS cl, dim, qv AS qc FROM vq WHERE vec_id < 8),
        |d1 AS (
        |  SELECT vq.vec_id, c0.cl,
        |    sum((vq.qv - c0.qc) * (vq.qv - c0.qc)) AS dist
        |  FROM vq JOIN c0 USING (dim) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, cl FROM d1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |c1 AS (
        |  SELECT cl, dim,
        |    CAST(floor(CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |      AS BIGINT) AS qc
        |  FROM a1 JOIN vq USING (vec_id) GROUP BY cl, dim),
        |d2 AS (
        |  SELECT vq.vec_id, c1.cl,
        |    sum((vq.qv - c1.qc) * (vq.qv - c1.qc)) AS dist
        |  FROM vq JOIN c1 USING (dim) GROUP BY 1, 2),
        |a2 AS (
        |  SELECT vec_id, cl FROM d2
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |c2 AS (
        |  SELECT cl, dim,
        |    CAST(floor(CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |      AS BIGINT) AS qc
        |  FROM a2 JOIN vq USING (vec_id) GROUP BY cl, dim),
        |d3 AS (
        |  SELECT vq.vec_id, c2.cl,
        |    sum((vq.qv - c2.qc) * (vq.qv - c2.qc)) AS dist
        |  FROM vq JOIN c2 USING (dim) GROUP BY 1, 2),
        |assigned AS (
        |  SELECT vec_id, cl AS cell FROM d3
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |probes AS (
        |  SELECT vec_id AS qid, cl AS cell FROM d3
        |  WHERE vec_id % 25 = 0 AND vec_id < 2000
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) <= 2),
        |pairs AS (
        |  SELECT p.qid, a.vec_id AS cid, a.cell
        |  FROM probes p JOIN assigned a USING (cell)
        |  WHERE a.vec_id <> p.qid),
        |pd AS (
        |  SELECT pr.qid, pr.cid, pr.cell,
        |    CAST(sum((x.qv - y.qv) * (x.qv - y.qv)) AS BIGINT) AS dist
        |  FROM pairs pr
        |  JOIN vq x ON x.vec_id = pr.qid
        |  JOIN vq y ON y.vec_id = pr.cid AND y.dim = x.dim
        |  GROUP BY 1, 2, 3)
        |SELECT qid, cid, cell, dist, rank FROM (
        |  SELECT qid, cid, cell, dist,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, cid)
        |      AS BIGINT) AS rank
        |  FROM pd) r
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q154_knn_classify" ->
      """WITH top AS (
        |  SELECT qid, true_label, nb_label, cos_sim FROM (
        |    SELECT qid, true_label, nb_label, cos_sim,
        |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid)
        |        AS rank
        |    FROM (
        |      SELECT q.vec_id AS qid, CAST(q.label AS BIGINT) AS true_label,
        |        c.vec_id AS cid, CAST(c.label AS BIGINT) AS nb_label,
        |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                     CAST(c.embedding AS DOUBLE[])), 6)
        |          AS cos_sim
        |      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |      WHERE q.vec_id % 25 = 0 AND q.vec_id < 2000) s) r
        |  WHERE rank <= 5),
        |votes AS (
        |  SELECT qid, true_label, nb_label,
        |    CAST(count(*) AS BIGINT) AS votes, max(cos_sim) AS best_sim
        |  FROM top GROUP BY qid, true_label, nb_label)
        |SELECT qid, true_label, nb_label AS pred_label, votes, best_sim,
        |  nb_label = true_label AS correct
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY votes DESC, nb_label) AS rn FROM votes) v
        |WHERE rn = 1 ORDER BY qid""".stripMargin,

    // q154's prediction chain, then the integer confusion tail:
    // F1 = 2TP/(2TP+FP+FN) in micro-units, macro = integer mean.
    "q217_macro_f1" ->
      """WITH top AS (
        |  SELECT qid, true_label, nb_label FROM (
        |    SELECT qid, true_label, nb_label, cos_sim,
        |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid)
        |        AS rank
        |    FROM (
        |      SELECT q.vec_id AS qid, CAST(q.label AS BIGINT) AS true_label,
        |        c.vec_id AS cid, CAST(c.label AS BIGINT) AS nb_label,
        |        round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                     CAST(c.embedding AS DOUBLE[])), 6)
        |          AS cos_sim
        |      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |      WHERE q.vec_id % 25 = 0 AND q.vec_id < 2000) s) r
        |  WHERE rank <= 5),
        |votes AS (
        |  SELECT qid, true_label, nb_label, CAST(count(*) AS BIGINT) AS votes
        |  FROM top GROUP BY qid, true_label, nb_label),
        |preds AS (
        |  SELECT qid, true_label, nb_label AS pred_label FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY votes DESC, nb_label) AS rn FROM votes) v
        |  WHERE rn = 1),
        |labels AS (
        |  SELECT DISTINCT true_label AS label FROM preds
        |  UNION SELECT DISTINCT pred_label AS label FROM preds),
        |tp AS (SELECT true_label AS label, CAST(count(*) AS BIGINT) AS tp
        |       FROM preds WHERE true_label = pred_label GROUP BY 1),
        |fp AS (SELECT pred_label AS label, CAST(count(*) AS BIGINT) AS fp
        |       FROM preds WHERE true_label <> pred_label GROUP BY 1),
        |fn AS (SELECT true_label AS label, CAST(count(*) AS BIGINT) AS fn
        |       FROM preds WHERE true_label <> pred_label GROUP BY 1),
        |conf AS (
        |  SELECT l.label, coalesce(tp.tp, 0) AS tp, coalesce(fp.fp, 0) AS fp,
        |    coalesce(fn.fn, 0) AS fn
        |  FROM labels l
        |  LEFT JOIN tp ON tp.label = l.label
        |  LEFT JOIN fp ON fp.label = l.label
        |  LEFT JOIN fn ON fn.label = l.label),
        |f1 AS (
        |  SELECT label, tp, fp, fn,
        |    (2 * tp * 1000000) // (2 * tp + fp + fn) AS f1_micro
        |  FROM conf)
        |SELECT label, tp, fp, fn, f1_micro,
        |  CAST(sum(f1_micro) OVER () // count(*) OVER () AS BIGINT)
        |    AS macro_f1_micro,
        |  CAST(CAST(sum(f1_micro) OVER () // count(*) OVER () AS BIGINT)
        |    AS DOUBLE) / 1000000.0 AS macro_f1
        |FROM f1 ORDER BY label""".stripMargin,

    "q60_cosine_topk" ->
      """SELECT qid, cid, cos_sim, rank FROM (
        |  SELECT qid, cid, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
        |  FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS cid,
        |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                   CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
        |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 50 = 0 AND q.vec_id < 2000) s) r
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q61_lsh_ann" ->
      s"""WITH e AS (SELECT vec_id, embedding, CAST($bucketSql AS BIGINT) AS bucket
         |           FROM embeddings)
         |SELECT qid, cid, bucket, cos_sim, rank FROM (
         |  SELECT qid, cid, bucket, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
         |  FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS cid, q.bucket,
         |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                                   CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
         |    FROM e q JOIN e c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |    WHERE q.vec_id % 25 = 0 AND q.vec_id < 2000) s) r
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q63_ivf_ann" ->
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |assigned AS (
        |  SELECT vec_id, embedding, cent_id AS cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cent_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                     CAST(c.ce AS DOUBLE[])), 6) DESC,
        |        c.cent_id) AS rn
        |    FROM embeddings e CROSS JOIN cents c) t
        |  WHERE rn = 1)
        |SELECT qid, cid, cell, cos_sim, rank FROM (
        |  SELECT qid, cid, cell, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
        |  FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS cid, q.cell,
        |      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                   CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
        |    FROM assigned q JOIN assigned c ON c.cell = q.cell AND c.vec_id <> q.vec_id
        |    WHERE q.vec_id % 25 = 0 AND q.vec_id < 2000) s) r
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q77_label_centroids" ->
      """WITH x AS (
        |  SELECT label, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS dim
        |  FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
        |  count(*) AS n_vecs,
        |  CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 / CAST(count(*) AS DOUBLE) AS centroid
        |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "q105_embedding_refinery" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         CAST($bucketSql AS BIGINT) AS bucket
         |  FROM embeddings),
         |q AS (
         |  SELECT vec_id, bucket, v,
         |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS qscale
         |  FROM e),
         |q2 AS (
         |  SELECT vec_id, bucket,
         |    CASE WHEN qscale > 0.0 THEN
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(v,
         |          x -> abs(x - floor(x / qscale + 0.5) * qscale))),
         |        (acc, x) -> acc + x) / 64.0
         |    ELSE 0.0 END AS qerr
         |  FROM q),
         |drops AS (
         |  SELECT DISTINCT b.vec_id FROM e a JOIN e b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3),
         |f AS (
         |  SELECT q2.bucket, q2.qerr, d.vec_id IS NOT NULL AS dropped
         |  FROM q2 LEFT JOIN drops d ON d.vec_id = q2.vec_id)
         |SELECT bucket, count(*) AS n_vecs,
         |  CAST(count(CASE WHEN dropped THEN 1 END) AS BIGINT) AS n_dropped,
         |  CAST(count(CASE WHEN NOT dropped THEN 1 END) AS BIGINT) AS n_kept,
         |  round(CAST(sum(CAST(floor(qerr * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1000000000.0 / CAST(count(*) AS DOUBLE), 6) AS mean_qerr
         |FROM f GROUP BY bucket ORDER BY bucket""".stripMargin,

    // Width CTE replays Dedup.adaptiveWidth's integer bit-length
    // formula from count(*) (4 bits at the 500-vector oracle sf — the
    // original pinned output); the per-bit dim map mirrors
    // adaptiveBucket token for token.
    "q62_embedding_neardup" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
         |wid AS (SELECT least(20, greatest(4, length(bin(n - 1)) - 5)) AS w FROM nn),
         |e AS (SELECT vec_id, embedding,
         |  CAST(list_sum(list_transform(range((SELECT w FROM wid)),
         |    i -> CASE WHEN embedding[1 + (i % 8) * 8 + (i // 8)] >= 0
         |              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS bucket
         |  FROM embeddings)
         |SELECT a.bucket, a.vec_id AS v1, b.vec_id AS v2,
         |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
         |ORDER BY v1, v2""".stripMargin,

    // q144's Lloyd replay (identical micro-int training chain) feeding
    // the within-cluster keep-first election — the whole SemDeDup
    // dataflow re-derived from the raw embeddings.
    "q168_semdedup" ->
      """WITH vq AS (
        |  SELECT vec_id, CAST(dim1 - 1 AS BIGINT) AS dim,
        |    CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
        |  FROM (
        |    SELECT vec_id, unnest(embedding) AS v,
        |      generate_subscripts(embedding, 1) AS dim1
        |    FROM embeddings)),
        |c0 AS (SELECT vec_id AS cl, dim, qv AS qc FROM vq WHERE vec_id < 8),
        |d1 AS (
        |  SELECT vq.vec_id, c0.cl,
        |    sum((vq.qv - c0.qc) * (vq.qv - c0.qc)) AS dist
        |  FROM vq JOIN c0 USING (dim) GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, cl FROM d1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |c1 AS (
        |  SELECT cl, dim,
        |    CAST(floor(CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |      AS BIGINT) AS qc
        |  FROM a1 JOIN vq USING (vec_id) GROUP BY cl, dim),
        |d2 AS (
        |  SELECT vq.vec_id, c1.cl,
        |    sum((vq.qv - c1.qc) * (vq.qv - c1.qc)) AS dist
        |  FROM vq JOIN c1 USING (dim) GROUP BY 1, 2),
        |a2 AS (
        |  SELECT vec_id, cl FROM d2
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |asg AS (
        |  SELECT a2.vec_id, a2.cl, e.embedding
        |  FROM a2 JOIN embeddings e USING (vec_id)),
        |near AS (
        |  SELECT b.cl, b.vec_id, CAST(count(*) AS BIGINT) AS n_near
        |  FROM asg b JOIN asg a ON a.cl = b.cl AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
        |  GROUP BY b.cl, b.vec_id)
        |SELECT asg.vec_id, asg.cl AS cell,
        |  coalesce(n.n_near, CAST(0 AS BIGINT)) AS n_near,
        |  CAST(CASE WHEN coalesce(n.n_near, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_dup
        |FROM asg LEFT JOIN near n ON n.cl = asg.cl AND n.vec_id = asg.vec_id
        |ORDER BY asg.vec_id""".stripMargin,

    "q182_semantic_decon" ->
      """WITH b AS (
        |  SELECT vec_id AS bench_id, embedding AS be FROM embeddings
        |  WHERE vec_id % 50 = 0 AND vec_id < 2000),
        |scored AS (
        |  SELECT c.vec_id, b.bench_id,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                 CAST(b.be AS DOUBLE[])), 6) AS cos_sim
        |  FROM embeddings c CROSS JOIN b
        |  WHERE c.vec_id % 50 <> 0)
        |SELECT vec_id, bench_id AS nearest_bench, cos_sim AS max_cos,
        |  cos_sim >= 0.35 AS flagged
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY vec_id
        |  ORDER BY cos_sim DESC, bench_id) = 1
        |ORDER BY vec_id""".stripMargin)

  /** Composed embedding-side refinery (the q75 flagship's sibling for
    * vectors): one pass computes each vector's LSH shard and its int8
    * quantization error (pinned-order fold ⇒ bit-exact), the bucket-
    * local near-dup join marks the higher id of every close pair for
    * dropping (keep-first election, q62's threshold), and the output
    * is the per-shard index-build manifest: how many vectors, how many
    * dedup drops, what quantization loss to expect. Scale: the only
    * pairwise work is inside LSH buckets; the manifest aggregation is
    * exact scaled-integer sums (order-independent). */
  private def embeddingRefinery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cos = CosineSimilarity.cosineSim(s) _
    val e = T.embeddings(s, dir)
      .select($"vec_id", $"embedding", bucketOf($"embedding").as("bucket"))
    val withQ = e
      .withColumn("qscale", expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0"))
      .withColumn("qerr", when($"qscale" > 0.0, expr(
        """aggregate(
          |  transform(embedding, x ->
          |    abs(CAST(x AS DOUBLE)
          |        - floor(CAST(x AS DOUBLE) / qscale + 0.5) * qscale)),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / 64.0""".stripMargin))
        .otherwise(lit(0.0)))
    val drops = e.alias("a")
      .join(e.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(cos(col("a.embedding"), col("b.embedding")), 6) >= 0.3)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("hit", lit(true))
    withQ.join(drops, Seq("vec_id"), "left")
      .withColumn("dropped", coalesce($"hit", lit(false)))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_vecs"),
        count(when($"dropped", 1)).as("n_dropped"),
        count(when(!$"dropped", 1)).as("n_kept"),
        round(sum(floor($"qerr" * 1000000000.0 + 0.5).cast("long")).cast("double")
          / 1000000000.0 / count(lit(1)).cast("double"), 6).as("mean_qerr"))
      .orderBy($"bucket")
  }

  private val Dim = 64

  /** Fit one `kSub`-centroid codebook per subspace (spark.ml KMeans,
    * fixed per-subspace seeds). Result shape: m × kSub × (Dim/m). */
  private def fitBooks(emb: DataFrame, m: Int, kSub: Int,
                       seed: Long): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.functions.array_to_vector
    val sub = Dim / m
    (0 until m).toArray.map { i =>
      new org.apache.spark.ml.clustering.KMeans()
        .setK(kSub).setSeed(seed + i).setMaxIter(10)
        .fit(emb.select(array_to_vector(
          expr(s"slice(embedding, ${i * sub + 1}, $sub)")).as("features")))
        .clusterCenters.map(_.toArray)
    }
  }

  /** Nearest-centroid code per subspace (the m-byte PQ encoding). */
  private def encodeUdf(bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
                        subLen: Int) =
    udf((v: Seq[Float]) => {
      val b = bc.value
      Array.tabulate(b.length) { i =>
        var best = 0
        var bestD = Double.MaxValue
        var j = 0
        while (j < b(i).length) {
          var d = 0.0
          var t = 0
          while (t < subLen) {
            val diff = v(i * subLen + t) - b(i)(j)(t)
            d += diff * diff
            t += 1
          }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        best
      }
    })

  /** ADC: cosine(query, codebook reconstruction) from codes alone. */
  private def adcUdf(bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
                     subLen: Int) =
    udf((q: Seq[Float], codes: Seq[Int]) => {
      val b = bc.value
      var dot = 0.0; var qn = 0.0; var rn = 0.0
      var i = 0
      while (i < codes.length) {
        val cent = b(i)(codes(i))
        var t = 0
        while (t < subLen) {
          val qv = q(i * subLen + t).toDouble
          dot += qv * cent(t); qn += qv * qv; rn += cent(t) * cent(t)
          t += 1
        }
        i += 1
      }
      if (qn == 0.0 || rn == 0.0) 0.0 else dot / math.sqrt(qn * rn)
    })

  /** ADC-order candidates, keep `rerank` per query, exact-cosine
    * re-rank to the final top `k`. */
  private def rerankTopK(s: SparkSession, cand: DataFrame, k: Int,
                         rerank: Int): DataFrame = {
    import s.implicits._
    val wApprox = Window.partitionBy($"qid").orderBy($"approx".desc, $"cid")
    val cos = CosineSimilarity.cosineSim(s) _
    val wRank = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
    cand
      .withColumn("arn", row_number().over(wApprox))
      .filter($"arn" <= rerank)
      .select($"qid", $"cid", round(cos($"qe", $"embedding"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter($"rank" <= k)
      .orderBy($"qid", $"rank")
  }

  /** Product-quantization ANN with exact re-ranking: split the 64-dim
    * embedding into `m` subspaces, learn a `kSub`-centroid codebook
    * per subspace (spark.ml KMeans, fixed seeds), store each vector
    * as `m` small codes — 32× compression at m=8/kSub=16 (8 bytes vs
    * 256) — then answer queries by ADC (approximate cosine against
    * the codebook-reconstructed vector, pure per-row arithmetic over
    * the broadcast codebooks) and re-rank the top `rerank` candidates
    * with the exact codegen'd cosine.
    *
    * Scale posture: the codebooks are m·kSub·(d/m) floats (KBs)
    * broadcast everywhere; encoding is one map pass; queries never
    * touch raw corpus vectors until the bounded re-rank fetch. At
    * 100 TB this composes with IVF (encode within cells) — here the
    * flat scan keeps the recall measurement interpretable, and
    * `rerank ≥ corpus` degenerates to exact search (pinned in
    * AnnRecallSpec).
    */
  def pqTopK(s: SparkSession, dir: String, k: Int, rerank: Int,
             m: Int = 8, kSub: Int = 16, queryMod: Int = 25,
             seed: Long = 42L): DataFrame = {
    import s.implicits._
    val emb = T.spread(T.embeddings(s, dir))
      .select($"vec_id", $"embedding").cache()
    val sub = Dim / m
    val bc = s.sparkContext.broadcast(fitBooks(emb, m, kSub, seed))
    val enc = emb.withColumn("codes", encodeUdf(bc, sub)($"embedding"))
    val queries = emb.filter($"vec_id" % queryMod === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    rerankTopK(s,
      enc.crossJoin(broadcast(queries))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"qe", $"vec_id".as("cid"), $"embedding",
          adcUdf(bc, sub)($"qe", $"codes").as("approx")),
      k, rerank)
  }

  /** The composed FAISS-style IVF-PQ layout: a trained coarse
    * quantizer routes corpus and queries to cells (only `nprobe`
    * cells scanned per query), PQ codes order the in-cell candidates
    * by ADC, and a bounded exact re-rank finishes. At 100 TB the
    * corpus stores (cell, codes) — a few bytes per vector, partitioned
    * by cell — and a query touches nprobe/nCells of it, reading raw
    * vectors only for the re-rank fetch. `nprobe = nCells` +
    * `rerank ≥ corpus` provably degenerates to exact search. */
  def ivfPqTopK(s: SparkSession, dir: String, k: Int, nprobe: Int,
                rerank: Int, nCells: Int = 8, m: Int = 8, kSub: Int = 16,
                queryMod: Int = 25, seed: Long = 42L): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    require(nprobe >= 1 && nprobe <= nCells)
    val emb = T.spread(T.embeddings(s, dir))
      .select($"vec_id", $"embedding").cache()
    val sub = Dim / m
    // coarse quantizer (cell router) + per-subspace PQ codebooks
    val coarse = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCells).setSeed(seed).setMaxIter(10)
      .fit(emb.select(array_to_vector($"embedding").as("features")))
    val cents = coarse.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
      .toDF("cent_id", "ce")
    val bc = s.sparkContext.broadcast(fitBooks(emb, m, kSub, seed + 100))
    val cos = CosineSimilarity.cosineSim(s) _
    val wAssign = Window.partitionBy($"vec_id").orderBy($"cent_cos".desc, $"cent_id")
    val ranked = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"cent_id",
        round(cos($"embedding", $"ce"), 6).as("cent_cos"))
      .withColumn("rn", row_number().over(wAssign))
    val assigned = ranked.filter($"rn" === 1)
      .select($"vec_id", $"embedding", $"cent_id".as("cell"))
      .withColumn("codes", encodeUdf(bc, sub)($"embedding"))
    val q = ranked.filter($"rn" <= nprobe && $"vec_id" % queryMod === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"cent_id".as("cell"))
    rerankTopK(s,
      assigned.join(broadcast(q), Seq("cell"))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"qe", $"vec_id".as("cid"), $"embedding",
          adcUdf(bc, sub)($"qe", $"codes").as("approx")),
      k, rerank)
  }
}
