package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The fused LangIdScore expression must be value-identical to the
  * composed scoring pipeline it replaces (posexplode top-40 → ×|langs|
  * fan-out join vs the rank profile → grouped out-of-place sum →
  * per-doc (dist, cand) argmin window): q142's oracle proves the QUERY
  * end-to-end, this pins the kernel against the composed built-ins on
  * every fixture document plus the edge cases the fusion must not
  * move — the 100 miss penalty (a java.util.HashMap with a SCALA Long
  * value type unboxes a missing key's null to 0, turning the penalty
  * into |doc_rank − 0|; the boxed-value regression test below fails
  * loudly on that), argmin tie-breaks, and the empty-gram NULL. */
class LangIdScoreSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  /** The pre-fusion composed pipeline, verbatim. */
  private def composed(ga: org.apache.spark.sql.DataFrame,
                       lp: org.apache.spark.sql.DataFrame,
                       langs: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val top40 = expr("""slice(array_sort(ga, (l, r) ->
        CASE WHEN l.c > r.c THEN -1 WHEN l.c < r.c THEN 1
             WHEN l.g < r.g THEN -1 WHEN l.g > r.g THEN 1
             ELSE 0 END), 1, 40)""")
    val dp = ga.select($"doc_id", posexplode(top40).as(Seq("p", "x")))
      .select($"doc_id", $"x.g".as("g"), ($"p" + 1).cast("long").as("doc_rank"))
    dp.join(broadcast(langs))
      .join(broadcast(lp), $"cand" === $"lcand" && $"g" === $"lg", "left")
      .groupBy($"doc_id", $"cand")
      .agg(sum(coalesce(abs($"doc_rank" - $"lang_rank"), lit(100L))).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"dist", $"cand")))
      .filter($"rn" === 1)
      .select($"doc_id", $"cand".as("pred_lang"), $"dist")
      .as[(Long, String, Long)].collect().toSet
  }

  private def fused(ga: org.apache.spark.sql.DataFrame,
                    lp: org.apache.spark.sql.DataFrame,
                    langs: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val scf = graft.functions.LangIdScore.langidScore(spark) _
    val prof = lp.groupBy()
      .agg(collect_list(struct($"lcand", $"lg", $"lang_rank")).as("prof"))
    val cands = langs.groupBy().agg(collect_list($"cand").as("cands"))
    ga.crossJoin(broadcast(prof)).crossJoin(broadcast(cands))
      .select($"doc_id", scf($"ga", $"prof", $"cands").as("sc"))
      .filter($"sc".isNotNull)
      .select($"doc_id", $"sc.pred_lang", $"sc.dist")
      .as[(Long, String, Long)].collect().toSet
  }

  private def fixturePieces() = {
    import spark.implicits._
    val gcf = graft.functions.NgramCounts.gramCounts(spark) _
    val ga = graft.engine.Tables.documents(spark, dir)
      .select($"doc_id", gcf($"text").as("ga"))
    val lp = ga.select($"doc_id", explode($"ga").as("x"))
      .select($"doc_id", $"x.g".as("g"), $"x.c".as("count"))
      .join(graft.engine.Tables.documents(spark, dir).select($"doc_id", $"lang"),
        "doc_id")
      .groupBy($"lang", $"g").agg(sum($"count").as("cnt"))
      .withColumn("lang_rank", row_number().over(
        Window.partitionBy($"lang").orderBy($"cnt".desc, $"g")).cast("long"))
      .filter($"lang_rank" <= 100L)
      .select($"lang".as("lcand"), $"g".as("lg"), $"lang_rank")
    val langs = graft.engine.Tables.documents(spark, dir)
      .select($"lang".as("cand")).distinct()
    (ga, lp, langs)
  }

  test("fused scorer equals the composed pipeline on every fixture document") {
    val (ga, lp, langs) = fixturePieces()
    val f = fused(ga, lp, langs)
    assert(f.nonEmpty)
    assert(f === composed(ga, lp, langs))
  }

  test("grams absent from a profile cost exactly the 100 penalty (boxed-value regression)") {
    import spark.implicits._
    // doc grams are disjoint from lang 'aa' profile ⇒ dist = 3·100;
    // lang 'bb' holds one gram at rank 7, doc_rank of 'xg' is 1 (count
    // desc) ⇒ dist = |1−7| + 2·100. With the unboxed-null bug the 'aa'
    // dist would be 1+2+3=6 and win instead.
    val ga = Seq((1L, Seq(("xg", 5L), ("yg", 2L), ("zg", 1L))))
      .toDF("doc_id", "ga")
    val lp = Seq(("aa", "qq", 1L), ("aa", "rr", 2L), ("bb", "xg", 7L))
      .toDF("lcand", "lg", "lang_rank")
    val langs = Seq("aa", "bb").toDF("cand")
    assert(fused(ga, lp, langs) === Set((1L, "bb", 206L)))
  }

  test("argmin ties break to the lexicographically first language") {
    import spark.implicits._
    val ga = Seq((1L, Seq(("xg", 1L)))).toDF("doc_id", "ga")
    // both langs hold xg at the same rank ⇒ equal dist, 'ba' wins
    val lp = Seq(("bz", "xg", 3L), ("ba", "xg", 3L))
      .toDF("lcand", "lg", "lang_rank")
    val langs = Seq("bz", "ba").toDF("cand")
    assert(fused(ga, lp, langs) === Set((1L, "ba", 2L)))
  }

  test("empty gram arrays yield NULL (the posexplode drop)") {
    import spark.implicits._
    val ga = Seq((1L, Seq.empty[(String, Long)]), (2L, Seq(("xg", 1L))))
      .toDF("doc_id", "ga")
    val lp = Seq(("aa", "xg", 1L)).toDF("lcand", "lg", "lang_rank")
    val langs = Seq("aa").toDF("cand")
    assert(fused(ga, lp, langs) === Set((2L, "aa", 0L)))
  }

  test("fresh-but-equal model arrays hit the content memo, not a rebuild") {
    // UnsafeRow.getArray hands out a NEW UnsafeArrayData per eval
    // (round-9 advice), so the reference fast path never holds in the
    // BroadcastNestedLoopJoin plan; the content fallback must absorb
    // those — one model build per instance, not one per document.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // build UnsafeArrayData exactly as the real plan does (UnsafeRow
    // .getArray): project a generic row to unsafe, then copy() so each
    // call yields a FRESH object with identical bytes
    val profType = ArrayType(StructType(Seq(
      StructField("lcand", StringType), StructField("lg", StringType),
      StructField("lang_rank", LongType))))
    val candsType = ArrayType(StringType)
    val gaType = ArrayType(StructType(Seq(
      StructField("g", StringType), StructField("c", LongType))))
    val proj = UnsafeProjection.create(Array[DataType](profType, candsType, gaType))
    def row(lg: String) = InternalRow(
      new GenericArrayData(Array[Any](
        InternalRow(UTF8String.fromString("aa"), UTF8String.fromString(lg), 1L))),
      new GenericArrayData(Array[Any](UTF8String.fromString("aa"))),
      new GenericArrayData(Array[Any](
        InternalRow(UTF8String.fromString("xg"), 1L))))
    val unsafe = proj(row("xg")).copy()
    def profArr() = unsafe.getArray(0)
    def candArr() = unsafe.getArray(1)
    def gaArr() = unsafe.getArray(2)
    val e = graft.functions.LangIdScore(null, null, null)
    (1 to 5).foreach { _ =>
      // fresh objects every eval — same content
      val out = e.nullSafeEval(gaArr(), profArr(), candArr())
      assert(out.asInstanceOf[InternalRow].getLong(1) === 0L)
    }
    assert(e.modelBuilds === 1)
    // a genuinely different model DOES rebuild
    val unsafe2 = proj(row("yg")).copy()
    val out2 = e.nullSafeEval(gaArr(), unsafe2.getArray(0), candArr())
    assert(out2.asInstanceOf[InternalRow].getLong(1) === 100L)
    assert(e.modelBuilds === 2)
  }

  test("more than 40 distinct grams: only the top-40 by (count desc, gram asc) score") {
    import spark.implicits._
    // 45 grams, counts descending by construction: g00..g44 with
    // counts 45..1 — top-40 is g00..g39; profile holds only g40 (rank
    // 1), which is OUTSIDE the top-40 ⇒ all 40 scored grams miss.
    val grams = (0 until 45).map(i => (f"g$i%02d", (45 - i).toLong))
    val ga = Seq((1L, grams)).toDF("doc_id", "ga")
    val lp = Seq(("aa", "g40", 1L)).toDF("lcand", "lg", "lang_rank")
    val langs = Seq("aa").toDF("cand")
    assert(fused(ga, lp, langs) === Set((1L, "aa", 4000L)))
  }
}
