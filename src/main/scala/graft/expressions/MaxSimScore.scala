package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Fused MaxSim (late-interaction) score over two `array<float>` columns
  * viewed as 8 sub-vectors of 8 dims: for each query sub-vector, the MAX
  * fixed-point dot product against any candidate sub-vector, summed over
  * query sub-vectors — `Σ_qs max_ds Σ_i floor(q[qs·8+i]·2^20)·floor(c[ds·8+i]·2^20)`.
  * Bit-identical to the HOF chain
  * `aggregate(transform(sequence(0,7), qs -> array_max(...)))` in
  * [[graft.queries.CurationQueries]]'s `ns_sim_maxsim` (same per-element
  * floors, same exact bigint folds) but as one codegen'd expression: no
  * lambda interpretation, no 8 intermediate arrays per pair, and the
  * candidate sub-vector floors are computed once and reused across all 8
  * query sub-vectors (the HOF form recomputes them 8×). The
  * [[ScaledDotProduct]] escalation path (SURVEY.md §7.3) applied to the
  * 64-sub-dot kernel, where it matters 64× more.
  *
  * Null element slots contribute 0 to their sub-dot, matching the
  * [[ScaledDotProduct]] convention. Arrays shorter than 64 elements
  * contribute 0 for the missing slots.
  */
case class MaxSimScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"maxsim_score expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "maxsim_score"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val qf = MaxSimScore.floors(xs)
    val cf = MaxSimScore.floors(ys)
    var total = 0L
    var qs = 0
    while (qs < MaxSimScore.SubVecs) {
      var best = Long.MinValue
      var ds = 0
      while (ds < MaxSimScore.SubVecs) {
        var dot = 0L
        var i = 0
        while (i < MaxSimScore.SubDim) {
          dot += qf(qs * MaxSimScore.SubDim + i) * cf(ds * MaxSimScore.SubDim + i)
          i += 1
        }
        if (dot > best) best = dot
        ds += 1
      }
      total += best
      qs += 1
    }
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val qf = ctx.freshName("qf")
      val cf = ctx.freshName("cf")
      val total = ctx.freshName("total")
      val qs = ctx.freshName("qs")
      val ds = ctx.freshName("ds")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val dot = ctx.freshName("dot")
      val helper = classOf[MaxSimScore].getName
      s"""
         |long[] $qf = $helper.floors($a);
         |long[] $cf = $helper.floors($b);
         |long $total = 0L;
         |for (int $qs = 0; $qs < ${MaxSimScore.SubVecs}; $qs++) {
         |  long $best = java.lang.Long.MIN_VALUE;
         |  for (int $ds = 0; $ds < ${MaxSimScore.SubVecs}; $ds++) {
         |    long $dot = 0L;
         |    for (int $i = 0; $i < ${MaxSimScore.SubDim}; $i++) {
         |      $dot += $qf[$qs * ${MaxSimScore.SubDim} + $i]
         |        * $cf[$ds * ${MaxSimScore.SubDim} + $i];
         |    }
         |    if ($dot > $best) $best = $dot;
         |  }
         |  $total += $best;
         |}
         |${ev.value} = $total;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaxSimScore =
    copy(left = newLeft, right = newRight)
}

object MaxSimScore {
  /** 8 sub-vectors × 8 dims; 2^20 per-element scale — all three match
    * the oracle SQL constants in `ns_sim_maxsim`. */
  val SubVecs = 8
  val SubDim = 8
  val Scale: Double = 1048576d
  private val Width = SubVecs * SubDim

  /** Per-element floors, computed ONCE per array (the HOF chain
    * recomputes the candidate floors per query sub-vector). Missing or
    * null slots floor to 0. Public static — called from generated code.
    */
  def floors(arr: ArrayData): Array[Long] = {
    val out = new Array[Long](Width)
    val n = math.min(arr.numElements(), Width)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        out(i) = math.floor(arr.getFloat(i).toDouble * Scale).toLong
      i += 1
    }
    out
  }
}
