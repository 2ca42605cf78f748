package graft

import org.apache.spark.sql.functions._
import graft.engine.Dedup.adaptiveWidth

/** The data-following hash width (q62 buckets, q68 simhash blocks):
  * exact integer bit-length arithmetic, mirrored in the oracles as
  * `least(cap, greatest(floor, length(bin(n - 1)) - 5))`. The floor
  * pins the 500-row oracle sf to the original fixed widths; the cap
  * keeps shifted values positive in a signed BIGINT.
  *
  * This spec also carries the repo-wide WIDTH AUDIT: every
  * pair-enumeration operator either follows the data (q62/q68, the
  * rule) or carries a proven exemption here —
  *
  *  - q51 MinHash-LSH: the band key is a pair of FULL md5 strings
  *    (2×128-bit key space), so bucket collisions are similarity-
  *    driven, never width-truncation-driven — there is no finite
  *    width to saturate by birthday ("dissimilar docs never share a
  *    band bucket" test). The 4-band×2-row structure is the S-curve
  *    recall knob, a SEMANTIC constant of the dedup pipeline, not a
  *    capacity parameter.
  *  - q124 production SimHash: 60 bits is the WIDEST fingerprint a
  *    positive signed BIGINT holds on both engines — the width is
  *    pinned by the oracle mechanism, not chosen. Its 4×15-bit blocks
  *    keep occupancy ≤ 32 through n = 2^20 docs ("validity envelope"
  *    test); beyond that, q68's adaptive fingerprint is the scale
  *    path (its cap already allows 15-bit blocks = the same 60-bit
  *    value, and the rule would demand >60 bits — i.e. multi-word
  *    fingerprints — which the BIGINT oracle cannot express).
  *  - q61 sign-LSH ANN: the probe set is CAPPED (≤ 80 queries at any
  *    sf — an eval benchmark is fixed-size), so candidate work is
  *    Σ_q n/2^w ≤ 80·n/16 = 5n — LINEAR in the corpus at any fixed
  *    width; width only tunes the recall/cost constant, and widening
  *    with n would silently change the query's recall semantics.
  *    The uncapped pair-search variant of the same bucketing is q62,
  *    which carries the adaptive rule. */
class AdaptiveWidthSpec extends SparkSuite {
  test("floor holds through the oracle sfs (outputs unchanged there)") {
    // bitlen(n-1)-5 stays <= 4 through n = 512 -> width 4 (16 bits
    // for q68's 4-block fingerprint, the original fixture width)
    for (n <- Seq(1L, 2L, 50L, 500L, 512L))
      assert(adaptiveWidth(n, 4, 15) === 4, s"n=$n")
    assert(adaptiveWidth(513, 4, 15) === 5) // first widening step
  }

  test("width tracks bit-length: occupancy n/2^w stays in [16, 32)") {
    for (n <- Seq(5000L, 50000L, 150000L, 500000L, 5000000L)) {
      val w = adaptiveWidth(n, 4, 60)
      val occ = n.toDouble / (1L << w)
      assert(occ < 32.001, s"n=$n w=$w occ=$occ")
      assert(occ >= 16.0 || w == 4, s"n=$n w=$w occ=$occ")
    }
  }

  test("cap bounds the width (BIGINT positivity for 4-block simhash)") {
    assert(adaptiveWidth(Long.MaxValue, 4, 15) === 15)
    assert(adaptiveWidth(1L << 40, 4, 20) === 20)
  }

  test("q51 exemption: md5 band keys cannot birthday-saturate — " +
    "dissimilar docs never share a bucket at any n") {
    import spark.implicits._
    // 4000 pairwise-dissimilar synthetic docs (disjoint token sets, the
    // ScaleUp injective-rename structure): a FIXED w-bit key would put
    // ~4000²/2^w colliding pairs in the band buckets (≈ 244k at w=16);
    // the 2×128-bit md5 band key must put ZERO.
    val docs = spark.range(4000).select($"id".as("doc_id"),
      concat_ws(" ",
        concat(lit("a"), $"id"), concat(lit("b"), $"id"),
        concat(lit("c"), $"id"), concat(lit("d"), $"id"),
        concat(lit("e"), $"id")).as("text"))
    val bands = graft.engine.Dedup.bandsOf(docs)
    val maxOcc = bands.groupBy($"band", $"bandkey")
      .agg(count(lit(1)).as("n")).agg(max($"n")).head().getLong(0)
    assert(maxOcc === 1L,
      s"dissimilar docs collided in a band bucket (max occupancy $maxOcc)")
    // and the key space is genuinely per-doc: 4 band rows per document
    assert(bands.count() === 4L * 4000L)
  }

  test("q124 exemption: the 60-bit BIGINT ceiling bounds its envelope " +
    "at n <= 2^20; q68's adaptive width meets it exactly there") {
    // occupancy n/2^15 per 15-bit block stays <= 32 through n = 2^20
    for (n <- Seq(1L << 10, 1L << 15, 1L << 20)) {
      val occ = n.toDouble / (1 << 15)
      assert(occ <= 32.0, s"n=$n occ=$occ")
    }
    // beyond the envelope the rule demands wider blocks than BIGINT
    // holds: at n = 2^21 the adaptive width is 16-bit blocks = 64-bit
    // fingerprint — unrepresentable as a positive signed BIGINT, so
    // the fixed 60-bit width is the oracle-imposed maximum, and q68
    // (whose cap 15 IS that maximum) is the operator that follows
    // the data up to it.
    assert(adaptiveWidth(1L << 21, 4, 64) === 16)
    assert(adaptiveWidth(1L << 21, 4, 15) === 15) // q68's capped value
    assert(4 * 15 === 60) // the BIGINT-positive fingerprint ceiling
  }

  test("q61 exemption: capped probe set makes fixed-width ANN linear — " +
    "candidate count scales ~2x when the corpus doubles") {
    import spark.implicits._
    // replicate q61's fixed 4-bit sign bucket over synthetic vectors
    def candidates(n: Int): Long = {
      val emb = spark.range(n).select($"id".as("vec_id"),
        expr("""transform(sequence(1, 32),
                |  d -> CAST(sin(CAST(id * 37 + d * 101 AS DOUBLE)) AS FLOAT))"""
          .stripMargin).as("embedding"))
      val bucket = (expr("CASE WHEN embedding[0] >= 0 THEN 1 ELSE 0 END")
        + expr("CASE WHEN embedding[8] >= 0 THEN 2 ELSE 0 END")
        + expr("CASE WHEN embedding[16] >= 0 THEN 4 ELSE 0 END")
        + expr("CASE WHEN embedding[24] >= 0 THEN 8 ELSE 0 END")).cast("long")
      val b = emb.select($"vec_id", bucket.as("bucket"))
      val probes = b.filter($"vec_id" % 25 === 0 && $"vec_id" < 2000)
        .select($"vec_id".as("qid"), $"bucket")
      // per-probe candidate list = its bucket's members (q61's join)
      b.join(broadcast(probes), Seq("bucket"))
        .filter($"vec_id" =!= $"qid").count()
    }
    val (c1, c2) = (candidates(4000), candidates(8000))
    val ratio = c2.toDouble / c1.toDouble
    // fixed probe count (80) x bucket occupancy n/16: doubling n must
    // ~double the work (quadratic saturation would give ~4x)
    assert(ratio > 1.6 && ratio < 2.4, s"c1=$c1 c2=$c2 ratio=$ratio")
  }

  test("agrees with the oracle's length(bin(n-1)) formula exactly") {
    // replicate the DuckDB side in Scala: length of the binary string
    def oracleSide(n: Long, floor: Int, cap: Int): Int = {
      val bitlen = java.lang.Long.toBinaryString(math.max(0L, n - 1)).length
      math.min(cap, math.max(floor, bitlen - 5))
    }
    var n = 1L
    while (n < (1L << 24)) { // sweep powers of two and neighbors
      for (m <- Seq(n - 1, n, n + 1) if m >= 1)
        assert(adaptiveWidth(m, 4, 20) === oracleSide(m, 4, 20), s"n=$m")
      n = n * 2
    }
  }
}
