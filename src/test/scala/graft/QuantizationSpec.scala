package graft

import org.apache.spark.sql.functions._
import graft.engine.{Similarity, Tables => T}

/** Int8 embedding quantization (Similarity.quantizeInt8): 4× smaller
  * storage with a measured, bounded effect on cosine similarity. The
  * spec quantizes the whole embeddings table, round-trips through the
  * dequantized view, and bounds both the per-component reconstruction
  * error (≤ scale/2 by construction) and the end-to-end cosine drift
  * on real vector pairs.
  */
class QuantizationSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.01"

  test("quantized values are int8 and reconstruction error is within scale/2") {
    import spark.implicits._
    val q = Similarity.quantizeInt8(T.embeddings(spark, dir), "embedding")
    val stats = Similarity.dequantize(q, "dq")
      .select(
        expr("aggregate(q_vec, CAST(127 AS INT), (m, v) -> least(m, CAST(v AS INT)))").as("min_q"),
        expr("aggregate(q_vec, CAST(-127 AS INT), (m, v) -> greatest(m, CAST(v AS INT)))").as("max_q"),
        expr("""aggregate(zip_with(embedding, dq, (a, b) ->
               |  abs(CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),
               |  CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, x))""".stripMargin)
          .as("max_err"),
        $"q_scale")
    val bad = stats.filter(
      $"min_q" < -127 || $"max_q" > 127 ||
        $"max_err" > $"q_scale" * 0.5 + lit(1e-6))
    assert(bad.isEmpty, s"quantization bound violated: ${bad.take(3).toSeq}")
  }

  test("cosine similarity survives quantization within 0.05") {
    import spark.implicits._
    val cos = graft.functions.CosineSimilarity.cosineSim(spark) _
    val deq = Similarity.dequantize(
      Similarity.quantizeInt8(T.embeddings(spark, dir), "embedding"), "dq")
      .select($"vec_id", $"embedding", $"dq")
    // consecutive-id pairs: cheap deterministic sample of real pairs
    val a = deq.select($"vec_id".as("ida"), $"embedding".as("ea"), $"dq".as("qa"))
    val b = deq.select(($"vec_id" - 1).as("ida"), $"embedding".as("eb"), $"dq".as("qb"))
    val drift = a.join(b, "ida")
      .select(abs(cos($"ea", $"eb") - cos($"qa", $"qb")).as("d"))
      .agg(max($"d")).head().getDouble(0)
    assert(drift < 0.05, s"int8 cosine drift too large: $drift")
  }
}
