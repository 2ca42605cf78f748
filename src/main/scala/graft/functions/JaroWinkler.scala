package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Jaro / Jaro-Winkler name similarity in EXACT integer micro-units —
  * the fuzzy-name primitive (record linkage, customer dedup) the
  * levenshtein family (q85) doesn't cover because it weights
  * transpositions and shared prefixes the way misspelled NAMES
  * actually differ (Winkler 1990, building on Jaro 1989).
  *
  * Determinism device: the Jaro similarity is a RATIONAL —
  * (m/|a| + m/|b| + (m−t)/m) / 3 — and the Winkler boost
  * jw = j + ℓ·0.1·(1−j) stays rational, so both are computed as one
  * integer division of exact integer products:
  *
  *   j  = num/den,  num = m²·|b| + m²·|a| + (m−t)·|a|·|b|,
  *                  den = 3·|a|·|b|·m
  *   jw = (10·num + ℓ·(den−num)) / (10·den)
  *
  * floored to micro-units by ONE integer division — no float ever
  * exists, so the value is bit-identical at any parallelism and in
  * any engine that replays the integer formula. (This is why the op
  * is spec-verified against published pairs rather than
  * DuckDB-oracled: DuckDB's jaro_winkler_similarity is a float
  * implementation with its own boost-threshold conventions — float
  * similarity parity across engines is not bit-provable, the exact
  * bit-provability gap STATUS.md documents for this family.)
  *
  * Scale shape: a per-row scalar over bounded-length name strings —
  * map-side, codegen-adjacent (a deterministic JVM kernel behind a
  * UDF; names are short so the O(|a|·|b|) window scan is constant
  * work). For blocking at 100 TB, pair candidates come from a
  * q51-style key (e.g. soundex-ish prefix buckets), never all pairs.
  */
object JaroWinkler {
  private val Micro = 1000000L

  /** (num, den) of the exact Jaro rational; den == 0 encodes "no
    * matches" (similarity 0). */
  private def jaroRational(a: String, b: String): (Long, Long) = {
    if (a == b) return (1L, 1L) // covers the empty-empty case as 1
    val la = a.length.toLong
    val lb = b.length.toLong
    if (la == 0 || lb == 0) return (0L, 0L)
    val window = math.max(0L, math.max(la, lb) / 2 - 1).toInt
    val aMatch = new Array[Boolean](a.length)
    val bMatch = new Array[Boolean](b.length)
    var m = 0L
    var i = 0
    while (i < a.length) {
      val lo = math.max(0, i - window)
      val hi = math.min(b.length - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return (0L, 0L)
    // transpositions: matched chars out of order, halved
    var t2 = 0L // 2·t (count BEFORE halving, always even-safe halved)
    var j = 0
    i = 0
    while (i < a.length) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t2 += 1
        j += 1
      }
      i += 1
    }
    val t = t2 / 2
    val num = m * m * lb + m * m * la + (m - t) * la * lb
    val den = 3L * la * lb * m
    (num, den)
  }

  /** Exact Jaro similarity floored to integer micro-units ∈ [0, 1e6]. */
  def jaroMicro(a: String, b: String): Long = {
    val (num, den) = jaroRational(a, b)
    if (den == 0L) 0L else Micro * num / den
  }

  /** Exact Jaro-Winkler (p = 0.1, ℓ = common prefix capped at 4)
    * floored to integer micro-units ∈ [0, 1e6]. This is the
    * NON-THRESHOLDED variant: the boost is applied unconditionally.
    * (Winkler's original — and jellyfish's / DuckDB's — convention
    * gates the boost on j > 0.7: `jw = if (j > 0.7) boosted else j`;
    * callers wanting that variant gate on jaroMicro. JaroWinklerSpec
    * pins a j < 0.7 pair so the intended unconditional behavior is
    * test-visible, not an accident of high-similarity test data.) */
  def jaroWinklerMicro(a: String, b: String): Long = {
    val (num, den) = jaroRational(a, b)
    if (den == 0L) return 0L
    var l = 0
    val maxL = math.min(4, math.min(a.length, b.length))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    // jw = (10·num + ℓ·(den − num)) / (10·den), floored to micro
    Micro * (10L * num + l * (den - num)) / (10L * den)
  }

  /** Null-in/null-out wrappers (Spark's SQL-function convention for a
    * record-linkage primitive: a NULL name has UNKNOWN similarity, not
    * 1.0-to-another-NULL, and must never NPE the task). The boxed
    * java.lang.Long return type is what lets the UDF emit SQL NULL. */
  private def jaroMicroN(a: String, b: String): java.lang.Long =
    if (a == null || b == null) null else java.lang.Long.valueOf(jaroMicro(a, b))

  private def jaroWinklerMicroN(a: String, b: String): java.lang.Long =
    if (a == null || b == null) null
    else java.lang.Long.valueOf(jaroWinklerMicro(a, b))

  /** Column API + SQL registration (idempotent). */
  def register(s: SparkSession): Unit = {
    s.udf.register("jaro_micro",
      (a: String, b: String) => jaroMicroN(a, b))
    s.udf.register("jaro_winkler_micro",
      (a: String, b: String) => jaroWinklerMicroN(a, b))
  }

  def jaroWinklerMicroCol(a: Column, b: Column): Column =
    udf((x: String, y: String) => jaroWinklerMicroN(x, y)).apply(a, b)
}
