package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.ops.{AsOfJoin, AsOfJoinNative}
import graft.plans.GraftExtensions

/** The native (LogicalPlan + Strategy + SparkPlan) as-of join: plan
  * placement, agreement with the window-based operator on random data,
  * and the one-shuffle-per-side physical shape. */
class AsOfJoinNativeSpec extends AnyFunSuite {
  // Session extensions are a static setting, so the two extension
  // suites share a test JVM of their own.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  def ts(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(sec * 1000)

  def randomFrames(seed: Int) = {
    import spark.implicits._
    val rnd = new Random(seed)
    val l = (1 to 200).map(i => (rnd.nextInt(5).toLong, i.toLong, ts(rnd.nextInt(5000))))
      .toDF("k", "lid", "t")
    val r = (1 to 200).map(i => (rnd.nextInt(5).toLong, 1000L + i, ts(rnd.nextInt(5000))))
      .toDF("k", "rid", "rt")
    (l, r)
  }

  test("AsOfJoinExec is planned and matches the window-based operator") {
    val (l, r) = randomFrames(21)
    val native = AsOfJoinNative.backward(l, r, Seq("k"), "t", "rt", "rid")
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin ")) // AsOfJoinExec (nodeName strips Exec)
    assert(plan.split("Exchange").length == 3, // exactly one shuffle per side
      s"expected 2 exchanges:\n$plan")
    val nRows = native.collect()
      .map(row => (row.getLong(1), Option(row.get(4)).map(_.asInstanceOf[Long])))
      .toMap
    val wRows = AsOfJoin.backward(l, r, Seq("k"), "t", "rt", "rid", Seq("rid" -> "rid"))
      .collect()
      .map(row => (row.getLong(1), Option(row.get(3)).map(_.asInstanceOf[Long])))
      .toMap
    assert(nRows.size == 200 && nRows == wRows)
  }

  test("left rows with no preceding right row get nulls (left-outer)") {
    import spark.implicits._
    val l = Seq((1L, 1L, ts(10)), (2L, 2L, ts(10))).toDF("k", "lid", "t")
    val r = Seq((1L, 100L, ts(5))).toDF("k", "rid", "rt")
    val out = AsOfJoinNative.backward(l, r, Seq("k"), "t", "rt", "rid")
      .orderBy("lid").collect()
    assert(out(0).getLong(4) == 100L)
    assert(out(1).isNullAt(3) && out(1).isNullAt(4)) // key 2: no right rows
  }

  test("equal-time right rows resolve to the greatest tie-break") {
    import spark.implicits._
    val l = Seq((1L, 1L, ts(10))).toDF("k", "lid", "t")
    val r = Seq((1L, 100L, ts(10)), (1L, 200L, ts(10))).toDF("k", "rid", "rt")
    val out = AsOfJoinNative.backward(l, r, Seq("k"), "t", "rt", "rid").collect()
    assert(out.head.getLong(4) == 200L)
  }

  test("both sides carved from ONE relation bind correctly after pruning") {
    // Regression: purchases/clicks filtered from the same events frame
    // share attribute exprIds, so the captured right-side keys used to
    // keep the LEFT ids (DeduplicateRelations cannot rewrite a custom
    // node's expression lists) — a downstream projection then pruned
    // the right key column and execution failed to bind. The API now
    // re-aliases right columns to fresh exprIds.
    import spark.implicits._
    val e = Seq(
      (1L, 10L, ts(1), "c"), (1L, 11L, ts(2), "p"),
      (2L, 12L, ts(3), "p"))
      .toDF("k", "id", "t", "typ")
    val l = e.filter($"typ" === "p").select($"k", $"id", $"t")
    val r = e.filter($"typ" === "c")
      .select($"k", $"id".as("rid"), $"t".as("rt"))
    val out = AsOfJoinNative.backward(l, r, Seq("k"), "t", "rt", "rid")
      .toDF("k", "id", "t", "rk", "rid", "rt")
      .select($"k", $"id", $"t", $"rid", $"rt") // projection = pruning trigger
      .orderBy($"id").collect()
    assert(out(0).getLong(3) == 10L) // purchase 11 ← click 10
    assert(out(1).isNullAt(3))       // key 2 has no clicks
  }

  test("integer time columns are cast, not read as 8-byte garbage") {
    import spark.implicits._
    val l = Seq((1L, 1L, 10), (1L, 2L, 3)).toDF("k", "lid", "t") // IntegerType time
    val r = Seq((1L, 100L, 5)).toDF("k", "rid", "rt")
    val out = AsOfJoinNative.backward(l, r, Seq("k"), "t", "rt", "rid")
      .orderBy("lid").collect()
    assert(out(0).getLong(4) == 100L)  // t=10 matches rt=5
    assert(out(1).isNullAt(4))         // t=3 precedes every right row
  }

  test("unsupported time types are rejected up front") {
    import spark.implicits._
    val l = Seq((1L, 1L, "ten")).toDF("k", "lid", "t")
    val r = Seq((1L, 100L, "five")).toDF("k", "rid", "rt")
    val e = intercept[IllegalArgumentException] {
      AsOfJoinNative.backward(l, r, Seq("k"), "t", "rt", "rid")
    }
    assert(e.getMessage.contains("unsupported type"))
  }

  test("null times never match: right nulls skipped, left nulls unmatched") {
    import spark.implicits._
    val l = Seq((1L, 1L, Some(10L)), (1L, 2L, None))
      .toDF("k", "lid", "t")
    val r = Seq((1L, 100L, Some(5L)), (1L, 999L, None))
      .toDF("k", "rid", "rt")
    val out = AsOfJoinNative.backward(l, r, Seq("k"), "t", "rt", "rid")
      .orderBy("lid").collect()
    assert(out(0).getLong(4) == 100L)  // null-time right row 999 skipped
    assert(out(1).isNullAt(4))         // null-time left row emitted unmatched
  }
}
