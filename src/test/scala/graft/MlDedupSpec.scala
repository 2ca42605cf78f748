package graft

import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}

/** spark.ml MinHashLSH variant of near-dup detection (SURVEY.md §2.10
  * lists it as the library alternative to the SQL minhash in
  * graft.engine.Dedup). Cross-checks its recall against the exact
  * Jaccard pairs from q53. */
class MlDedupSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.01"

  test("MinHashLSH approxSimilarityJoin recalls the high-jaccard exact pairs") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", split(trim($"text"), "\\s+").as("ws"))
      .filter(size($"ws") >= 3)
      .select($"doc_id", expr(
        """transform(sequence(1, size(ws) - 2),
          |  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1),
          |                 element_at(ws, i + 2)))""".stripMargin).as("shingles"))

    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val feat = tf.transform(docs).cache()

    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42L)
    val model = lsh.fit(feat)
    val pairs = model.approxSimilarityJoin(feat, feat, 0.6, "dist")
      .select(col("datasetA.doc_id").as("d1"), col("datasetB.doc_id").as("d2"))
      .filter($"d1" < $"d2")
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // exact high-similarity pairs from the oracle-verified q53
    val exact = graft.engine.Dedup.queries("q53_jaccard_pairs")(spark, dir)
      .filter($"jaccard" >= 0.5)
      .select($"doc1", $"doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    val recalled = exact.intersect(pairs)
    assert(recalled.size.toDouble / exact.size >= 0.9,
      s"ml LSH missed too many exact pairs: ${exact -- pairs}")
  }
}
