package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Fused scaled dot product over two `array<float>` columns:
  * `sum_i floor(x_i * y_i * 2^40)` as an exact BIGINT (the cross-engine
  * float-determinism scheme of [[graft.queries.NorthStarQueries]] — see
  * its scaladoc). Norms are `scaled_dot(v, v)`.
  *
  * This is the SURVEY.md §7.3 escalation path made real: the same
  * reduction as the HOF chain `aggregate(zip_with(...))`, but as a single
  * codegen'd Catalyst expression — no lambda interpretation, no
  * intermediate product array allocation, and it participates in
  * whole-stage codegen, which matters when the similarity stage runs
  * over billions of vectors. Interpreted eval matches codegen bit-for-bit
  * (same `Math.floor` + IEEE double multiply).
  *
  * Arrays are paired up to the shorter length; null element slots are
  * treated as 0 contribution.
  */
case class ScaledDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"scaled_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "scaled_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) && !ys.isNullAt(i)) {
        val x = xs.getFloat(i).toDouble
        val y = ys.getFloat(i).toDouble
        acc += math.floor(x * y * ScaledDotProduct.Scale).toLong
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double x = (double) $a.getFloat($i);
         |    double y = (double) $b.getFloat($i);
         |    $acc += (long) java.lang.Math.floor(x * y * ${ScaledDotProduct.Scale}D);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScaledDotProduct =
    copy(left = newLeft, right = newRight)
}

object ScaledDotProduct {
  /** 2^40 — matches the `S` constant in the oracle SQL. */
  val Scale: Double = 1099511627776d
}
