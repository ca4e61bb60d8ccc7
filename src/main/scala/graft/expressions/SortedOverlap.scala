package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Cardinality of the intersection of two ASCENDING-SORTED `array<int>`
  * columns with non-null elements — the fused, codegen'd form of
  * `size(array_intersect(a, b))` for the trigram-set verify joins,
  * where both arrays come from `sort_array(collect_list(...))` over a
  * DISTINCT (key, trigram) frame, so sortedness and element uniqueness
  * hold by construction.
  *
  * Why it exists (guide §1.2 step 2 — per-task work): `array_intersect`
  * builds a hash set per evaluation, and when the comparison lands in a
  * join CONDITION Catalyst evaluates it once per appearance (the
  * trigram verify evaluates the intersection three times per candidate
  * pair: twice in the pushed predicate, once in the projection). The
  * merge-scan form allocates nothing and runs in whole-stage codegen.
  *
  * Exactness: for sorted inputs this is count(distinct common values) —
  * identical to `size(array_intersect(a, b))` for any null-free inputs
  * (duplicates are skipped the way array_intersect dedups). Inputs NOT
  * sorted ascending are outside the contract.
  */
case class SortedOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_overlap expects (array<int>, array<int>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_overlap"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val m = ys.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val x = xs.getInt(i)
      val y = ys.getInt(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        c += 1
        while (i < n && xs.getInt(i) == x) i += 1
        while (j < m && ys.getInt(j) == x) j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n && $j < $m) {
         |  int $x = $a.getInt($i);
         |  int $y = $b.getInt($j);
         |  if ($x < $y) { $i++; }
         |  else if ($x > $y) { $j++; }
         |  else {
         |    $c++;
         |    while ($i < $n && $a.getInt($i) == $x) { $i++; }
         |    while ($j < $m && $b.getInt($j) == $x) { $j++; }
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlap =
    copy(left = newLeft, right = newRight)
}
