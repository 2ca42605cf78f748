package graft

import org.apache.spark.sql.functions._

/** The native NgramCounts expression must be value-identical to the
  * composed built-ins it replaces (explode words → pad → codepoint
  * substring grams → per-doc count): q142's oracle proves the QUERY
  * end-to-end, this pins the kernel itself on every fixture document
  * plus codepoint/whitespace edge cases. */
class NgramCountsSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  private def builtinCounts(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select($"doc_id", explode(split(trim($"text"), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, length(w)), i -> substring(concat('_', w, '_'), i, 3))"))
        .as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .as[(Long, String, Long)].collect().toSet
  }

  private def exprCounts(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val gcf = graft.functions.NgramCounts.gramCounts(spark) _
    df.select($"doc_id", explode(gcf($"text")).as("x"))
      .select($"doc_id", $"x.g", $"x.c")
      .as[(Long, String, Long)].collect().toSet
  }

  test("gram_counts equals the composed built-ins on every fixture document") {
    val docs = graft.engine.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    assert(exprCounts(docs) === builtinCounts(docs))
  }

  test("gram_counts handles whitespace runs, 1-char words, and non-BMP codepoints") {
    import spark.implicits._
    val edge = Seq(
      (1L, "  a  bb\tccc \n dd  "),
      (2L, "a"),
      (3L, ""),
      (4L, "   "),
      (5L, "café naïve"),
      (6L, "😀x😀 y😀")) // 😀 surrogate pairs
      .toDF("doc_id", "text")
    assert(exprCounts(edge) === builtinCounts(edge))
    // per-array determinism: sorted by gram, no duplicate grams
    val gcf = graft.functions.NgramCounts.gramCounts(spark) _
    val arrs = edge.select(gcf($"text").as("a"))
      .as[Seq[(String, Long)]].collect()
    arrs.foreach { a =>
      assert(a.map(_._1) === a.map(_._1).sorted)
      assert(a.map(_._1).distinct.length === a.length)
    }
  }
}
