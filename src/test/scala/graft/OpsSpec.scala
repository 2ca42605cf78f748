package graft

import org.apache.spark.sql.functions._
import graft.ops.{AsOfJoin, RangeJoin, Sessionize}
import graft.functions.CosineSimilarity

/** Unit specs for the custom operators on tiny literal frames. */
class OpsSpec extends SparkSuite {
  def ts(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(sec * 1000)

  test("AsOfJoin.backward matches most recent right row at-or-before") {
    import spark.implicits._
    val trades = Seq((1L, ts(10), "t1"), (1L, ts(20), "t2"), (2L, ts(15), "t3"))
      .toDF("k", "t", "trade")
    val quotes = Seq((1L, ts(5), 100.0), (1L, ts(10), 101.0), (1L, ts(18), 102.0),
      (2L, ts(20), 200.0))
      .toDF("k", "qt", "px")
    val out = AsOfJoin.backward(trades, quotes, Seq("k"), "t", "qt",
        tieBreak = "px", payload = Seq("px" -> "px", "qt" -> "qt"))
      .orderBy("k", "t")
      .collect().map(r => (r.getLong(0), r.getString(2), Option(r.get(3))))
    // t1@10 → quote@10 (inclusive); t2@20 → quote@18; t3@15 → none (quote@20 later)
    assert(out.toSeq == Seq((1L, "t1", Some(101.0)), (1L, "t2", Some(102.0)),
      (2L, "t3", None)))
  }

  test("AsOfJoin preserves NULL payload values of the matched right row") {
    import spark.implicits._
    // Matched (most recent) right row has px = NULL; an older right row
    // has a non-null px. Carrying payload columns individually would
    // skip the null and splice in 100.0 from the older row — the struct
    // carrier must return (NULL px, "late" src) from the SAME row.
    val l = Seq((1L, ts(30), "x")).toDF("k", "t", "which")
    val r = Seq((1L, ts(10), Some(100.0), "early"), (1L, ts(20), None, "late"))
      .toDF("k", "qt", "px", "src")
    val out = AsOfJoin.backward(l, r, Seq("k"), "t", "qt", "src",
      Seq("px" -> "px", "src" -> "src")).collect().head
    assert(out.isNullAt(out.fieldIndex("px")))
    assert(out.getString(out.fieldIndex("src")) == "late")
  }

  test("AsOfJoin equal-time ties resolve to greatest tie-break") {
    import spark.implicits._
    val l = Seq((1L, ts(10), "x")).toDF("k", "t", "which")
    val r = Seq((1L, ts(10), 1.0), (1L, ts(10), 9.0)).toDF("k", "qt", "px")
    val out = AsOfJoin.backward(l, r, Seq("k"), "t", "qt", "px", Seq("px" -> "px"))
      .collect()
    assert(out.head.getDouble(3) == 9.0)
  }

  test("RangeJoin.following equals the naive range join") {
    import spark.implicits._
    val base = (1 to 200).map(i => (i.toLong % 5, i.toLong, ts(i * 97 % 3600)))
      .toDF("k", "id", "t")
    val naive = base.alias("a").join(base.alias("b"),
        col("a.k") === col("b.k") &&
          col("b.t") > col("a.t") &&
          unix_micros(col("b.t")) <= unix_micros(col("a.t")) + 300000000L)
      .select(col("a.id").as("lid"), col("b.id").as("rid"))
      .distinct().orderBy("lid", "rid").collect().toSeq
    val banded = RangeJoin.following(
        base.select($"k", $"id".as("lid"), $"t".as("lt")),
        base.select($"k", $"id".as("rid"), $"t".as("rt")),
        Seq("k"), "lt", "rt", 300000000L)
      .select("lid", "rid").distinct().orderBy("lid", "rid").collect().toSeq
    assert(naive.nonEmpty && banded == naive)
  }

  test("Sessionize splits on gap and not within") {
    import spark.implicits._
    val df = Seq((1L, ts(0), 1L), (1L, ts(60), 2L), (1L, ts(4000), 3L))
      .toDF("u", "t", "id")
    val out = Sessionize.withSessionSeq(df, "u", "t", "id", gapUs = 30L * 60 * 1000000)
      .orderBy("id").collect().map(_.getLong(3)).toSeq
    assert(out == Seq(0L, 0L, 1L))
  }

  test("CosineSimilarity expression matches manual computation") {
    import spark.implicits._
    val cos = CosineSimilarity.cosineSim(spark) _
    val df = Seq((Array(1f, 0f, 2f), Array(2f, 1f, 0f))).toDF("a", "b")
    val got = df.select(cos($"a", $"b")).collect().head.getDouble(0)
    val exp = 2.0 / (math.sqrt(5.0) * math.sqrt(5.0))
    assert(math.abs(got - exp) < 1e-12)
    // orthogonal and zero vectors
    val z = Seq((Array(1f, 0f), Array(0f, 1f)), (Array(0f, 0f), Array(1f, 1f)))
      .toDF("a", "b")
    val zs = z.select(cos($"a", $"b")).collect().map(_.getDouble(0)).toSeq
    assert(zs == Seq(0.0, 0.0))
  }

  test("Multimodal binary ingest + stub decode plumbing") {
    val dir = "/root/testdata/sf0.001"
    val bin = graft.engine.Multimodal.readBinary(spark, dir, "*.parquet")
    assert(bin.count() == 10)
    val feats = graft.engine.Multimodal.decodeImages(
      graft.engine.Multimodal.withMeta(bin)).collect()
    assert(feats.length == 10)
    assert(feats.forall(f => f.histogram.length == 16 && f.width >= 64))
    val frames = graft.engine.Multimodal.sampleFrames(bin)
    assert(frames.count() >= 10) // at least frame 0 per file
  }
}
