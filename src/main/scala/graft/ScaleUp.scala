package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sf0.1 → sf1 scale-up generator (dev tool, not part of
  * the query surface): 10 key-shifted copies of every fact table, so
  * the scaling-curve bench (SCALE.md) runs on ×10 data with sane join
  * semantics — copy k's keys live in their own 1e6-stride keyspace, so
  * per-copy join fan-outs match the sf0.1 originals instead of
  * cross-multiplying.
  *
  * Documents: copy k > 0 marks EVERY token with a `_k` suffix — an
  * injective per-copy token rename, so each copy's internal near-dup
  * structure is isomorphic to the original while copies share NO
  * tokens at all. Token-bag similarity (SimHash), shingle similarity
  * (MinHash/PPJoin), and prefix tokens are all disjoint across
  * copies, so pair mass scales ×k, never ×k². (Round 7 marked only
  * every 3rd token — that killed shingle overlap but left copies
  * sharing 2/3 of their token bags, so 16-bit SimHashes of cross-copy
  * clones genuinely landed within Hamming ≤ 3 and pair mass grew
  * quadratically in copies — the fixture artifact behind the old rung
  * exclusion list.)
  *
  * Scale-invariance caveat: per-doc duplicate counts are EXACTLY
  * invariant only for set-overlap ops (Jaccard / shingle / prefix —
  * the rename is a bijection on token sets). md5-derived fingerprints
  * (SimHash) RE-RANDOMIZE under the rename: each copy's fingerprints
  * are a fresh draw, so per-copy Hamming≤3 pair counts match copy 0
  * in DISTRIBUTION (equal expectation), not realization — a modest
  * rung-ratio wobble on q68-class queries is fixture re-roll noise,
  * not a plan regression.
  *
  * Embeddings: copy k > 0 applies a deterministic SIGNED PERMUTATION
  * (rotate dims by k mod d, then negate the first ⌊k/d⌋ mod (d+1)
  * positions). A signed permutation is orthogonal, so every
  * within-copy inner product — hence the copy's entire near-dup and
  * ANN neighborhood structure — is preserved exactly, while
  * cross-copy cosines collapse to random-pair levels (cos(x, Qx) ≈ 0
  * for a non-identity signed permutation of a generic vector). This
  * gives d·(d+1) distinct transforms (≈4k at d=64) before any two
  * copies repeat, so clone pairs never reappear at any sf this
  * sandbox can hold. The ANN queries' query SETS (`vec_id % 25 = 0`)
  * still grow with the corpus by construction; the verified queries
  * cap their probe sets (q60/q145) and SCALE.md carries the model.
  *
  * Events keep `ts` as raw NANO longs (the driver fixture's physical
  * type), so `Tables.events`' nanos→micros conversion — and the
  * streaming tail — run unchanged against the generated directory.
  */
object ScaleUp {
  private val Stride = 1000000L

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local(Sessions.cpus)
    // the fixture's events.ts is TIMESTAMP(NANOS): the session reads it
    // as a raw long and it is written back as a raw long — the loaders'
    // nanos handling then applies to the generated dir identically
    import spark.implicits._

    // shift receives (table, key offset k·Stride, copy index k) — the
    // copy index is a plain Scala Long, so index/rotation/flip-count
    // arithmetic is exact INTEGER math on the driver, never a
    // re-derived `offset / Stride` (Spark's Divide on integral columns
    // is DOUBLE division: the index would ride float arithmetic and
    // the document token suffix would be the string of a double,
    // "_1.0" instead of "_1")
    def copiesOf(name: String,
                 shift: (DataFrame, Column, Long) => DataFrame): DataFrame = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until copies)
        .map(i => shift(base, lit(i.toLong * Stride), i.toLong))
        .reduce(_ union _)
    }

    def write(df: DataFrame, name: String, parts: Int = 8): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // dims: unchanged
    for (t <- Seq("region", "nation"))
      write(spark.read.parquet(s"$src/$t.parquet"), t, parts = 1)

    write(copiesOf("customer", (df, o, _) =>
      df.withColumn("c_custkey", $"c_custkey" + o)), "customer")
    write(copiesOf("supplier", (df, o, _) =>
      df.withColumn("s_suppkey", $"s_suppkey" + o)), "supplier")
    write(copiesOf("part", (df, o, _) =>
      df.withColumn("p_partkey", $"p_partkey" + o)), "part")
    write(copiesOf("orders", (df, o, _) =>
      df.withColumn("o_orderkey", $"o_orderkey" + o)
        .withColumn("o_custkey", $"o_custkey" + o)), "orders")
    write(copiesOf("lineitem", (df, o, _) =>
      df.withColumn("l_orderkey", $"l_orderkey" + o)
        .withColumn("l_partkey", $"l_partkey" + o)
        .withColumn("l_suppkey", $"l_suppkey" + o)), "lineitem", parts = 16)
    // events: ts stays a NANO long (see scaladoc)
    write(copiesOf("events", (df, o, _) =>
      df.withColumn("event_id", $"event_id" + o)
        .withColumn("user_id", $"user_id" + o)), "events")
    write(copiesOf("documents", (df, o, c) => {
      val marked =
        if (c == 0L) $"text"
        else array_join(
          transform(split($"text", " "), w => concat(w, lit("_" + c))), " ")
      df.withColumn("doc_id", $"doc_id" + o)
        .withColumn("text", marked)
        .withColumn("n_chars", length(marked))
    }), "documents")
    write(copiesOf("embeddings", (df, o, c) => {
      // rotation r = c mod d and flip count m = ⌊c/d⌋ mod (d+1) in
      // exact driver-side INTEGER arithmetic; only the (constant) dim
      // size is read from the data
      val d = size($"embedding")
      val r = pmod(lit(c), d.cast("long")).cast("int")
      val rot = concat(
        slice($"embedding", r + 1, d - r),
        slice($"embedding", lit(1), r))
      val m = pmod(expr(s"$c div CAST(size(embedding) AS BIGINT)"),
        d.cast("long") + 1L).cast("int")
      val rotFlip = zip_with(rot, sequence(lit(0), d - 1),
        (v, i) => when(i < m, -v).otherwise(v))
      df.withColumn("vec_id", $"vec_id" + o)
        .withColumn("embedding",
          if (c == 0L) $"embedding" else rotFlip)
    }), "embeddings")

    spark.stop()
  }
}
