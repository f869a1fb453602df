package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** L2 normalization of a double array as ONE codegen'd Expression: the
  * array is read once, its sum of squares taken in one loop, and each
  * element divided by the root. The HOF spelling
  * `when(l2 === 0.0, v).otherwise(transform(v, x -> x / l2))` with
  * `l2 = sqrt(aggregate(v, 0.0, (acc, x) -> acc + x * x))` re-evaluates
  * `l2` (and with it the whole expression that produces `v`) inside the
  * per-element lambda, so its cost grows with the square of the length.
  *
  * Semantics match that spelling bit for bit: the sum runs left to right
  * from 0.0 (`acc + x * x`), the root is `Math.sqrt`; an all-zero (or
  * empty) array is returned unchanged, not NaN; a null element makes the
  * sum null, so every element of the result is null; a null array is null.
  */
case class L2Normalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"l2_normalize requires array<double> input, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    L2Normalize.normalize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val normalizer = L2Normalize.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$normalizer.normalize($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)

  override def prettyName: String = "l2_normalize"
}

object L2Normalize {

  /** Shared by interpreted eval and codegen. */
  def normalize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return new GenericArrayData(new Array[Any](n))
      val x = a.getDouble(i)
      sum = sum + x * x
      i += 1
    }
    val l2 = Math.sqrt(sum)
    if (l2 == 0.0) a
    else {
      val out = new Array[Double](n)
      i = 0
      while (i < n) { out(i) = a.getDouble(i) / l2; i += 1 }
      ArrayData.toArrayData(out)
    }
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def l2_normalize(c: Column): Column =
    ColumnBridge.column(L2Normalize(ColumnBridge.expression(c)))
}
