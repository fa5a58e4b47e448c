package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the vector hot loop (SURVEY.md §2.11 /
  * §7.3(b)): a codegen'd dot product over ArrayType(DoubleType).
  *
  * Spark's higher-order `aggregate`/`zip_with` lambdas evaluate interpreted
  * (one boxed Catalyst eval per element — profiled ~µs/element); this
  * expression emits a tight primitive `for` loop inside whole-stage codegen
  * instead. The accumulation is the identical sequential left fold
  * (`acc += a[i] * b[i]` from acc = 0.0), so results are bit-for-bit equal
  * to both the HOF formulation and DuckDB's
  * `list_reduce(list_transform(...), (acc,x) -> acc+x)` — oracle parity is
  * preserved, only the constant factor changes.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product needs two array<double> arguments, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |double $acc = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  import org.apache.spark.sql.functions.call_function

  /** Column API for [[DotProduct]] — resolves on sessions built with
    * [[GraftExtensions]] or after [[GraftExtensions.register]]. */
  def dot_product(a: Column, b: Column): Column = call_function("graft_dot", a, b)
}
