package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Exact squared L2 distance over two `array<bigint>` columns:
  * `sum_i (a_i - b_i)^2` as BIGINT — the inner loop of quantized k-means
  * assignment and PQ encode (see `ns_embed_kmeans` / `ns_sim_pq`, which
  * run on 2^14-quantized grids where every term is exact 63-bit-safe
  * integer math).
  *
  * Same escalation as [[ScaledDotProduct]]: the HOF formulation
  * `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0L, ...)` is
  * interpreted per element (the dominant cost in the ScaleProbe PQ run);
  * this expression is one codegen'd loop inside whole-stage codegen with
  * no lambda dispatch and no intermediate array. Interpreted eval matches
  * codegen exactly (pure integer arithmetic).
  *
  * The optional third argument is a 0-based element OFFSET into the LEFT
  * array: `sq_l2(a, b, off)` pairs `a[off + i]` with `b[i]` — the
  * subvector distance PQ encode needs, WITHOUT materializing
  * `slice(a, off + 1, len)` first. With 16 codes x 8 subspaces the slice
  * formulation allocates 128 8-element arrays per row (CollapseProject
  * inlines the slice into every code's distance expression); the offset
  * form reads the source array in place.
  *
  * Arrays are paired up to the shorter effective length
  * (`min(a.len - off, b.len)`); null slots contribute 0.
  */
case class SquaredL2(left: Expression, right: Expression, offset: Expression)
    extends TernaryExpression {

  def this(left: Expression, right: Expression) = this(left, right, Literal(0))

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = offset

  override def checkInputDataTypes(): TypeCheckResult = {
    val arraysOk = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (!arraysOk)
      TypeCheckResult.TypeCheckFailure(
        s"sq_l2 expects (array<bigint>, array<bigint>[, int]), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else if (offset.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"sq_l2 offset must be int, got ${offset.dataType.simpleString}")
    else if (offset.foldable && {
        val v = offset.eval(null); v != null && v.asInstanceOf[Int] < 0
      })
      // A negative offset would index UnsafeArrayData (no bounds checks)
      // below the array base — reject at analysis when statically known,
      // and at runtime otherwise (see nullSafeEval/doGenCode).
      TypeCheckResult.TypeCheckFailure(
        s"sq_l2 offset must be >= 0, got ${offset.eval(null)}")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sq_l2"

  override def nullSafeEval(a: Any, b: Any, off: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val o = off.asInstanceOf[Int]
    if (o < 0)
      throw new IllegalArgumentException(s"sq_l2 offset must be >= 0, got $o")
    val n = math.min(xs.numElements() - o, ys.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(o + i) && !ys.isNullAt(i)) {
        val d = xs.getLong(o + i) - ys.getLong(i)
        acc += d * d
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, off) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |if ($off < 0) {
         |  throw new IllegalArgumentException("sq_l2 offset must be >= 0, got " + $off);
         |}
         |int $n = java.lang.Math.min($a.numElements() - $off, $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($off + $i) && !$b.isNullAt($i)) {
         |    long $d = $a.getLong($off + $i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): SquaredL2 =
    copy(left = newFirst, right = newSecond, offset = newThird)
}

object SquaredL2 {
  /** Two-argument form (offset 0) — the pre-offset signature. */
  def apply(left: Expression, right: Expression): SquaredL2 =
    SquaredL2(left, right, Literal(0))
}
