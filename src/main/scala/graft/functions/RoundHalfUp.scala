package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Round, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `round(x)` (scale 0, HALF_UP) that gives Spark's result for every
  * input, with no `BigDecimal` on a double.
  *
  * Spark's `Round` on a double runs
  * `BigDecimal.valueOf(x).setScale(0, HALF_UP)` per row, which costs
  * more than the multiply and the long sum around it in every
  * `Exact` money sum. A double child plans [[RoundHalfUpDouble]];
  * every other type (long, int, decimal, float) keeps Spark's `Round`.
  * The type is known only once the child resolves, so the choice is a
  * `RuntimeReplaceable` replacement. */
case class RoundHalfUp(child: Expression) extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case DoubleType => RoundHalfUpDouble(child)
    case _ => new Round(child)
  }
  override def checkInputDataTypes(): TypeCheckResult = replacement.checkInputDataTypes()
  // spelled as Spark's `round(x)`, so a generated column name stays the same
  override def sql: String = s"round(${child.sql}, 0)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Half-up rounding of a double to an integral double, in arithmetic:
  * a = |x|, k = floor(a), r = k + 1 if a − k ≥ 0.5 else k, result
  * sign(x)·r with a zero result as +0.0. NaN, ±Inf and |x| ≥ 2⁵² are
  * integral already and pass through, as in Spark's `Round`.
  *
  * Why it equals `BigDecimal.valueOf(x).setScale(0, HALF_UP)`: for
  * 0 ≤ a < 2⁵² the difference a − k is exact, and the tie k + 0.5 is
  * itself a double. `valueOf` rounds `Double.toString(x)`, a decimal
  * that reads back as x; if it lay on the other side of the tie from
  * x (or on it), the tie would be nearer to it than x, so it could not
  * read back as x. Both sides therefore round the same way, and an
  * exact tie goes away from zero in both. The fraction must be taken
  * from |x|: x − floor(x) on a negative x in (−1, 0) rounds, and
  * −0.49999999999999994 would come out −1. */
case class RoundHalfUpDouble(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "round_half_up"

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[Double]
    val a = math.abs(x)
    if (a < RoundHalfUp.Integral) {
      val k = math.floor(a)
      val r = if (a - k >= 0.5) k + 1.0 else k
      if (x < 0.0) 0.0 - r else r
    } else x
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      // a non-nullable child puts this code in the caller's scope, once per use
      val a = ctx.freshName("a"); val k = ctx.freshName("k"); val r = ctx.freshName("r")
      s"""
         |double $a = java.lang.Math.abs($x);
         |if ($a < ${RoundHalfUp.Integral}) {
         |  double $k = java.lang.Math.floor($a);
         |  double $r = ($a - $k >= 0.5) ? $k + 1.0 : $k;
         |  ${ev.value} = ($x < 0.0) ? 0.0 - $r : $r;
         |} else {
         |  ${ev.value} = $x;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RoundHalfUp {
  /** 2⁵²: from here on every double is an integer. */
  val Integral: Double = 4503599627370496.0

  /** `round(c)` through [[RoundHalfUp]]. Built from the Column alone, so
    * no session has to register a function first. */
  def of(c: Column): Column = GraftBridge.column(RoundHalfUp(GraftBridge.expression(c)))
}
