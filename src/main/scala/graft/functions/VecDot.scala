package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst dot product over two float/double array columns.
  *
  * The declarative formulation `aggregate(zip_with(a, b, _ * _), 0, _ + _)`
  * allocates an intermediate array and evaluates an interpreted lambda per
  * element — per-row overhead that dominates a 100 TB embedding scan. This
  * expression stays inside whole-stage codegen with a primitive loop over
  * the two `ArrayData` buffers: no allocation, no boxing, no virtual calls.
  *
  * Semantics (deliberately NOT identical to the HOF formulation): mismatched
  * lengths truncate to the shorter array and null elements contribute 0.0,
  * where `aggregate(zip_with(...))` returns NULL in both cases. Embedding
  * columns are fixed-width non-null vectors, for which the two agree; the
  * laxer rule keeps the hot loop branch-light and total.
  *
  * Library code builds it directly ([[graft.pipeline.Similarity.dot]]);
  * [[GraftExtensions]] registers the SQL name `vec_dot`.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // accept float or double element arrays per side independently
  // (the per-side element type drives the generated getter below)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float>/array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val ld = elemIsDouble(left)
    val rd = elemIsDouble(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (ld) a.getDouble(i) else a.getFloat(i).toDouble
        val y = if (rd) b.getDouble(i) else b.getFloat(i).toDouble
        s += x * y
      }
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsDouble(left)) "getDouble" else "getFloat"
    val rGet = if (elemIsDouble(right)) "getDouble" else "getFloat"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int ${ev.value}_n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_s = 0.0;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  if (!$a.isNullAt(${ev.value}_i) && !$b.isNullAt(${ev.value}_i)) {
         |    ${ev.value}_s += (double) $a.$lGet(${ev.value}_i) * (double) $b.$rGet(${ev.value}_i);
         |  }
         |}
         |${ev.value} = ${ev.value}_s;
       """.stripMargin
    })
  }

  override def prettyName: String = "vec_dot"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
