package graft.plans

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock,
  ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.DataType

/** A bound parameter: a `Literal` in every respect except its generated
  * code. Spark writes a primitive literal into the generated Java as a
  * constant (`42L`), so two requests that differ only in a numeric id
  * compile two classes, and a request mix with more distinct code than
  * the codegen cache holds compiles on every pass. This literal's code
  * reads the value from the `references` array instead, the way Spark
  * already passes string literals, so the code is the same for every
  * value.
  *
  * Everything that reads a literal's value still sees one: it is an
  * instance of `Literal` and equal to a `Literal` of the same value and
  * type, so constant folding, filter pushdown to the file scan (the
  * scan's `PushedFilters` keep `EqualTo(k, v)`) and min/max pruning of
  * cached batches work unchanged. Null and non-primitive values take
  * `Literal`'s own code path, which already passes them by reference.
  */
class ParamLiteral(value: Any, dataType: DataType) extends Literal(value, dataType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      ev.copy(code = EmptyBlock, isNull = FalseLiteral,
        value = JavaCode.expression(s"$ref.${javaType}Value()", dataType))
    }
}
