package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst dot product, `graft_dot(a, b)`: array<float|double> on
  * either side, result double.
  *
  * Summation order — the contract bit-identity rests on: the accumulator
  * starts at 0.0 and adds (double) a[i] * (double) b[i] for i = 0, 1, …,
  * n−1, left to right, in double precision. That is exactly what
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, x) -> acc + x)`
  * computes, and the order DuckDB's `list_dot_product` over DOUBLE[] sums
  * in, so the oracle twins of the ANN queries agree bit for bit. Starting
  * from 0.0 matters: a lone −0.0 product sums to 0.0.
  *
  * Null exactly where that fold is null: either side null, either side
  * holding a null element, or the lengths differ (zip_with pads the
  * shorter side with nulls). Two empty arrays give 0.0.
  *
  * Tier (b) of the custom-operator ladder, like [[RollingFingerprint]]: one
  * type-specialised loop per row inside whole-stage codegen, where the
  * higher-order fold is evaluated by interpreted lambdas per element.
  */
case class Dot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).find(e => !Dot.isVector(e.dataType)) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<float> or array<double> arguments, got ${e.dataType}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Dot.compute(a.asInstanceOf[ArrayData], Dot.isFloat(left.dataType),
      b.asInstanceOf[ArrayData], Dot.isFloat(right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(arr: String, e: Expression, i: String): String =
      if (Dot.isFloat(e.dataType)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${get(a, left, i)} * ${get(b, right, i)};
         |  }
         |}
         |${ev.value} = $acc;
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Dot =
    copy(left = newLeft, right = newRight)
}

object Dot {
  private[functions] def isVector(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  private[functions] def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType

  /** Interpreted twin of the generated loop: the same products summed in
    * the same order; null where the SQL function is null. */
  def compute(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += (if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)) *
        (if (bFloat) b.getFloat(i).toDouble else b.getDouble(i))
      i += 1
    }
    acc
  }

  /** The same sum over two non-null double vectors of equal length. */
  def of(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** FunctionRegistry builder: graft_dot(a, b). */
  def builder(children: Seq[Expression]): Expression = children match {
    case Seq(a, b) => Dot(a, b)
    case _ => throw new IllegalArgumentException(
      s"graft_dot(a, b) expects 2 arguments, got ${children.size}")
  }

  val info: ExpressionInfo = new ExpressionInfo(classOf[Dot].getName, "graft_dot")
}
