package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for word shingling (SURVEY.md §7.3(a)): the
  * distinct word 5-grams of a token array, each joined by one space, in
  * first-occurrence order. Fewer than 5 tokens give an empty array; a NULL
  * array gives NULL; NULL tokens are skipped inside a gram, as `concat_ws`
  * skips them.
  *
  * Every gram belongs to one row, so the work is row-local: one compiled
  * loop per row ([[Shingles5.grams]], called from the generated code), with
  * no per-element lambda and no token shuffle. Dropping repeated grams here
  * is DuckDB's `list_distinct`, so downstream hashes match the oracle's.
  */
case class Shingles5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_shingles5 needs an array<string> argument, got $other")
  }

  override protected def nullSafeEval(toks: Any): Any = Shingles5.grams(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, toks => s"${Shingles5.getClass.getName}.MODULE$$.grams($toks)")

  override protected def withNewChildInternal(newChild: Expression): Shingles5 =
    copy(child = newChild)
}

object Shingles5 {
  private val Sep = UTF8String.fromString(" ")

  def grams(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i + 5 <= n) {
      val g = UTF8String.concatWs(Sep, toks.getUTF8String(i), toks.getUTF8String(i + 1),
        toks.getUTF8String(i + 2), toks.getUTF8String(i + 3), toks.getUTF8String(i + 4))
      if (seen.add(g)) out += g
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
