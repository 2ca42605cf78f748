package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.RoundHalfUp

/** Bit-exact float aggregation helpers shared by every verified query.
  *
  * Problem: `sum(double)` is order-dependent; Spark's partial/final
  * aggregation and DuckDB's parallel aggregation visit rows in
  * different orders, so plain double sums differ in the last ulps and
  * fail the driver's hash-compare. The reference itself computes money
  * with float64 (`parseFloat`, render-complete-deploy.js:216,275,541),
  * so money values here carry ≤2 decimal digits (products ≤4-6).
  *
  * Fix: per-row, scale to an integer (`round(x*10000)` — the same IEEE
  * multiply and away-from-zero round in both engines, always landing
  * far from .5 because inputs are decimal-ish), sum exactly as BIGINT
  * (associative, order-independent), divide back once at the end. The
  * resulting double is bit-identical across Spark and DuckDB, and the
  * pattern keeps map-side partial aggregation fully effective — this is
  * *more* scalable than a double sum, not less (no ordering
  * constraints).
  *
  * The round is [[graft.functions.RoundHalfUp]]: on a double it is
  * floor-and-compare arithmetic on |x| in generated code, equal to
  * Spark's `round` for every double (`BigDecimal.valueOf` reads
  * `Double.toString(x)`, which reads back as x and so lies on the same
  * side of the representable tie k + 0.5 as x; `ExactSpec` checks both
  * codegen modes), without Spark's per-row `BigDecimal`. Other input
  * types keep Spark's `round`; the cast to long stays Spark's, so ANSI
  * overflow and NaN errors are unchanged.
  *
  * The paired `*Sql` builders emit the byte-equivalent DuckDB oracle
  * expression (same association order, so identical IEEE semantics).
  */
object Exact {
  val MoneyScale = 10000

  /** Per-row exact scaling: round(x * 10000) as long. */
  def scaled(c: Column, scale: Int = MoneyScale): Column =
    RoundHalfUp.of(c * scale).cast("long")

  /** Order-independent exact money sum → double. */
  def msum(c: Column, scale: Int = MoneyScale): Column =
    sum(scaled(c, scale)).cast("double") / scale.toDouble

  /** Order-independent exact money average → double. */
  def mavg(c: Column, scale: Int = MoneyScale): Column =
    sum(scaled(c, scale)).cast("double") / count(lit(1)).cast("double") / scale.toDouble

  /** Cross-engine-stable 6-decimal truncation: floor(x·1e6)/1e6.
    *
    * `round(x, 6)` is implemented DIFFERENTLY by the two engines —
    * Spark HALF_UPs the double's shortest decimal repr while DuckDB
    * rounds the binary value — so a quotient of exact integers whose
    * reduced denominator has the form 2^7·5^j (e.g. 1/640 =
    * 0.0015625) sits exactly on a .5 boundary at the 7th digit and
    * the two engines round it in opposite directions (the q80/r3 and
    * q196/r6 failure class). floor() has ONE definition in IEEE: both
    * engines floor the SAME double, so a mirrored float pipeline
    * ending in trunc6 is divergence-free BY CONSTRUCTION, not by
    * data-dependent luck. Use for every displayed ratio of
    * data-dependent integers; keep round() only where it is
    * load-bearing (aligning two genuinely different implementations,
    * e.g. the cosine kernel vs DuckDB's list_cosine_similarity). */
  def trunc6(c: Column): Column =
    floor(c * lit(1e6)).cast("double") / lit(1e6)

  /** 0-decimal stable rounding for non-negative mirrored expressions:
    * floor(x + 0.5) — same IEEE result in both engines, unlike
    * round(x) whose half-boundary handling differs. */
  def round0(c: Column): Column = floor(c + lit(0.5))

  // ---- DuckDB oracle SQL fragments (must mirror the Scala ops above
  //      token for token so the IEEE arithmetic matches) ----
  def scaledSql(expr: String): String =
    s"CAST(round(($expr)*10000) AS BIGINT)"
  def msumSql(expr: String): String =
    s"CAST(sum(${scaledSql(expr)}) AS DOUBLE)/10000.0"
  def mavgSql(expr: String): String =
    s"CAST(sum(${scaledSql(expr)}) AS DOUBLE)/CAST(count(*) AS DOUBLE)/10000.0"
}
