package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CosineSimilarity
import graft.plans.GraftExtensions

/** Optimizer-rule injection via SparkSessionExtensions: the
  * self-cosine strength reduction (graft.plans.SimplifySelfCosine).
  * Plans must be file-backed — literal LocalRelations constant-fold
  * entirely before the assertion could see the expression. */
class ExtensionsSpec extends AnyFunSuite {
  // Session extensions are a static setting, so the two extension
  // suites share a test JVM of their own.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("cosine_sim(x, x) is rewritten away and stays correct") {
    import spark.implicits._
    val cos = CosineSimilarity.cosineSim(spark) _
    val df = graft.engine.Tables.embeddings(spark, dir)
      .select($"vec_id", cos($"embedding", $"embedding").as("self_cos"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim"), s"rule did not fire:\n$optimized")
    assert(optimized.contains("array_any_nonzero"))
    // every embedding is nonzero → self-cosine exactly 1.0
    assert(df.filter($"self_cos" =!= 1.0).count() == 0)
    assert(df.count() == 500)
  }

  test("self-cosine rewrite preserves NULL on nullable array input") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cos = CosineSimilarity.cosineSim(spark) _
    // embeddings.embedding is nullable in the parquet footer; inject an
    // actual NULL row through a when() so the rewrite's null branch is
    // exercised end-to-end. cosine_sim(NULL, NULL) must stay NULL —
    // a bare If would coerce it to 0.0 and flip schema nullability.
    val df = graft.engine.Tables.embeddings(spark, dir)
      .select($"vec_id",
        when($"vec_id" =!= 0L, $"embedding").as("e"))
      .select($"vec_id", cos($"e", $"e").as("self_cos"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim"), s"rule did not fire:\n$optimized")
    assert(df.schema("self_cos").nullable)
    val nullRow = df.filter($"vec_id" === 0L).collect().head
    assert(nullRow.isNullAt(1), "cosine_sim(NULL, NULL) must be NULL, not 0.0")
    assert(df.filter($"vec_id" =!= 0L && $"self_cos" =!= 1.0).count() == 0)
  }

  test("cosine_sim(x, y) with distinct inputs is NOT rewritten") {
    import spark.implicits._
    val cos = CosineSimilarity.cosineSim(spark) _
    val df = graft.engine.Tables.embeddings(spark, dir)
      .select(cos($"embedding", org.apache.spark.sql.functions.slice($"embedding", 1, 32))
        .as("c"))
    assert(df.queryExecution.optimizedPlan.toString.contains("cosine_sim"))
    df.count() // still executes
  }
}
