package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Fused 8-bit sign-LSH bucket over an `array<float>` embedding, which
  * every query buckets with. It replaced the HOF chain
  * (`aggregate(zip_with(embedding, plane_j, ...)) >= 0` per bit) that
  * [[graft.queries.NorthStarQueries.lshBucketExpr]] keeps as
  * `LshBucketSpec`'s reference.
  *
  * Bit j of the bucket is set iff
  * `sum_i sign(j,i) * floor(embedding[i] * 2^40) >= 0`, with the exact
  * deterministic ±1 hyperplane matrix the HOF inlined as literals
  * (parity of the first hex digit of md5("j:i"), i 1-based). The fused
  * loop computes `floor(x_i * 2^40)` once per element and accumulates
  * all 8 signed sums in one pass — no per-bit zip_with array
  * allocation, no lambda interpretation, whole-stage codegen.
  *
  * Null/length semantics replicate the HOF chain exactly: any null
  * element, a length other than 64, or a NULL array makes every bit's
  * sum NULL, and `CASE WHEN NULL >= 0` takes the ELSE branch — so the
  * bucket is 0 (never NULL). The expression is therefore non-nullable.
  */
case class LshBucket(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_bucket"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0 else LshBucket.compute(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val signs = ctx.addReferenceObj("lshSigns", LshBucket.signsFlat, "long[]")
    val xs = ctx.freshName("xs")
    val acc = ctx.freshName("acc")
    val q = ctx.freshName("q")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val ok = ctx.freshName("ok")
    val bkt = ctx.freshName("bkt")
    ev.copy(code = code"""
      ${c.code}
      int $bkt = 0;
      if (!${c.isNull}) {
        org.apache.spark.sql.catalyst.util.ArrayData $xs =
          (org.apache.spark.sql.catalyst.util.ArrayData) ${c.value};
        if ($xs.numElements() == 64) {
          long[] $acc = new long[8];
          boolean $ok = true;
          for (int $i = 0; $i < 64; $i++) {
            if ($xs.isNullAt($i)) { $ok = false; break; }
            long $q = (long) java.lang.Math.floor(
              (double) $xs.getFloat($i) * ${LshBucket.Scale}D);
            for (int $j = 0; $j < 8; $j++) {
              $acc[$j] += $signs[($j << 6) + $i] * $q;
            }
          }
          if ($ok) {
            for (int $j = 0; $j < 8; $j++) {
              if ($acc[$j] >= 0L) $bkt |= (1 << $j);
            }
          }
        }
      }
      int ${ev.value} = $bkt;
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

object LshBucket {
  /** 2^40 — the shared fixed-point grid ([[ScaledDotProduct.Scale]]). */
  val Scale: Double = 1099511627776d

  /** The deterministic ±1 hyperplane matrix, flat [j * 64 + i] — MUST
    * derive exactly as `NorthStarQueries.hyperplanes` (parity of the
    * first hex digit of md5("j:i"), i 1-based) so the native bucket is
    * bit-identical to the HOF chain and the DuckDB twin.
    */
  val signsFlat: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](512)
    for (j <- 0 until 8; i <- 0 until 64) {
      val hex = md.digest(s"$j:${i + 1}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      out(j * 64 + i) = if (hex.charAt(0).toInt % 2 == 1) 1L else -1L
    }
    out
  }

  private[expressions] def compute(xs: ArrayData): Int = {
    if (xs.numElements() != 64) return 0
    val acc = new Array[Long](8)
    var i = 0
    while (i < 64) {
      if (xs.isNullAt(i)) return 0
      val q = math.floor(xs.getFloat(i).toDouble * Scale).toLong
      var j = 0
      while (j < 8) {
        acc(j) += signsFlat((j << 6) + i) * q
        j += 1
      }
      i += 1
    }
    var bkt = 0
    var j = 0
    while (j < 8) {
      if (acc(j) >= 0L) bkt |= (1 << j)
      j += 1
    }
    bkt
  }
}
