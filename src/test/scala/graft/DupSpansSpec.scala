package graft

import graft.engine.Dedup

/** Exact-substring duplicate spans (q129 / Dedup.dupSpans): planted
  * shared substrings must come back as merged regions with the exact
  * gram counts, token coverage, and longest-region length the
  * construction promises — including the gaps-and-islands merge rule
  * (marked gram positions ≤ K apart fuse into one region) and
  * within-document repetition counting toward the ≥2 census.
  */
class DupSpansSpec extends SparkSuite {
  // every test runs at the 8-way shuffle width the suite was written for
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.shuffle.partitions" -> "8")(super.withFixture(test))

  private def stats(docs: Seq[(Long, String)], k: Int): Map[Long, (Long, Long, Long, Long)] = {
    import spark.implicits._
    Dedup.dupSpans(docs.toDF("doc_id", "text"), k).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5)))
      .toMap
  }

  test("a shared 8-token run marks exactly its grams and its span") {
    // tokens outside the run are unique per doc, so only the run's
    // 3-grams cross the census threshold
    val docs = Seq(
      1L -> "r1 r2 r3 r4 r5 r6 r7 r8 u1 u2 u3",
      2L -> "v1 v2 r1 r2 r3 r4 r5 r6 r7 r8 v3")
    val m = stats(docs, k = 3)
    // doc 1: 11 tokens, grams at pos 1..9; duplicated = pos 1..6 (every
    // 3-gram inside the 8-token run) → one island: 6 grams, covering
    // 6-1+3 = 8 tokens = the run length
    assert(m(1L) == (11L, 6L, 8L, 8L))
    // doc 2: same run at pos 3..10 → marked grams at pos 3..8
    assert(m(2L) == (11L, 6L, 8L, 8L))
  }

  test("clean documents report zeros; short documents are excluded") {
    val docs = Seq(
      1L -> "a1 a2 a3 a4 a5 a6",
      2L -> "b1 b2 b3 b4 b5 b6",
      3L -> "c1 c2") // shorter than K → excluded
    val m = stats(docs, k = 3)
    assert(m(1L) == (6L, 0L, 0L, 0L) && m(2L) == (6L, 0L, 0L, 0L))
    assert(!m.contains(3L))
  }

  test("regions further than K apart stay separate; coverage sums") {
    // two shared 3-gram regions with a 4-token unique gap in doc 1
    // (gap > K=3 between marked positions → two islands)
    val docs = Seq(
      1L -> "s1 s2 s3 g1 g2 g3 g4 t1 t2 t3 g5",
      2L -> "x1 s1 s2 s3 x2 x3 x4 x5 t1 t2 t3")
    val m = stats(docs, k = 3)
    // doc 1: marked grams at pos 1 (s-run) and pos 8 (t-run); 8-1 > 3
    // → islands of 1 gram each, 3 tokens covered apiece
    assert(m(1L) == (11L, 2L, 6L, 3L))
  }

  test("adjacent regions within K merge into one covered span") {
    // doc 1 holds two shared 3-grams at positions 1 and 4 (distance
    // exactly K) → one merged region covering tokens 1..6
    val docs = Seq(
      1L -> "s1 s2 s3 t1 t2 t3 u9",
      2L -> "y1 s1 s2 s3 y2 y3 y4",
      3L -> "z1 z2 t1 t2 t3 z3 z4")
    val m = stats(docs, k = 3)
    assert(m(1L) == (7L, 2L, 6L, 6L))
  }

  test("repetition inside one document counts toward the census") {
    // the 3-gram "p1 p2 p3" occurs twice in the SAME doc and nowhere
    // else — both occurrences are marked (ExactSubstr counts total
    // occurrences, not distinct documents)
    val docs = Seq(
      1L -> "p1 p2 p3 q1 q2 q3 p1 p2 p3",
      2L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9")
    val m = stats(docs, k = 3)
    // marked grams at pos 1 and 7; 7-1 > 3 → two islands, 3 tokens each
    assert(m(1L) == (9L, 2L, 6L, 3L))
    assert(m(2L) == (9L, 0L, 0L, 0L))
  }
}
