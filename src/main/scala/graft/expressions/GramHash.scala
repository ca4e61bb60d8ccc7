package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** xxhash64 of a length-`len` WINDOW of an array, starting at 0-based
  * `pos` — bit-identical to `xxhash64(slice(arr, pos + 1, len))` (and,
  * seeded with `XXH64.hashLong(k, 42)`, to `xxhash64(k, slice(...))`),
  * without materializing the slice.
  *
  * Why it exists (guide §4, r22 exact-substr family): the gram streams
  * hash an L-element window at every position of every document.
  * `slice` allocates a fresh array per gram (boxing every element on
  * the copy), evaluated once per hash seed — measured ~20 us/gram in
  * the bpe50 explode stage. This expression folds the window hash into
  * the same whole-stage-codegen loop reading the parent array in place:
  * zero allocation, two long/UTF8String hash calls per element.
  *
  * Recurrence replicated exactly from Spark's XxHash64 over arrays:
  * `h = seed; for each non-null element e in window: h = hash(e, h)`
  * (null elements leave the accumulator unchanged). Elements may be
  * long, int, or string. `len` and `seed` must be foldable literals.
  * A window running past the end is truncated, like `slice`'s; a
  * negative `pos` is null, since no 1-based `slice` start maps to it
  * (the catalog's positions come from `sequence(0, size(w) - L)` over
  * arrays of at least L elements, so they are never negative).
  */
case class GramHash(arr: Expression, pos: Expression, len: Expression,
    seed: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(arr, pos, len, seed)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "gram_hash"

  private lazy val elemType: DataType = arr.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }
  private lazy val lenVal: Int = len.eval().asInstanceOf[Number].intValue()
  private lazy val seedVal: Long = seed.eval().asInstanceOf[Number].longValue()

  override def checkInputDataTypes(): TypeCheckResult = {
    val okElem = elemType match {
      case LongType | IntegerType | StringType => true
      case _ => false
    }
    if (!okElem)
      TypeCheckResult.TypeCheckFailure(
        s"gram_hash expects array<long|int|string>, got ${arr.dataType.simpleString}")
    else if (pos.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"gram_hash pos must be int, got ${pos.dataType.simpleString}")
    else if (!len.foldable || !seed.foldable)
      TypeCheckResult.TypeCheckFailure("gram_hash len and seed must be literals")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def eval(input: InternalRow): Any = {
    val a = arr.eval(input)
    if (a == null) return null
    val p = pos.eval(input)
    if (p == null) return null
    val ad = a.asInstanceOf[ArrayData]
    val start = p.asInstanceOf[Int]
    if (start < 0) return null
    val end = math.min(start.toLong + lenVal, ad.numElements().toLong).toInt
    var h = seedVal
    var i = start
    while (i < end) {
      if (!ad.isNullAt(i)) h = elemType match {
        case LongType =>
          org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(ad.getLong(i), h)
        case IntegerType =>
          org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(ad.getInt(i), h)
        case StringType =>
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(ad.getUTF8String(i), h)
        case _ => h
      }
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arrGen = arr.genCode(ctx)
    val posGen = pos.genCode(ctx)
    val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
    val a = ctx.freshName("a")
    val i = ctx.freshName("i")
    val end = ctx.freshName("end")
    val upd = elemType match {
      case LongType => s"${ev.value} = $xxh.hashLong($a.getLong($i), ${ev.value});"
      case IntegerType => s"${ev.value} = $xxh.hashInt($a.getInt($i), ${ev.value});"
      case StringType =>
        s"${ev.value} = $xxh.hashUTF8String($a.getUTF8String($i), ${ev.value});"
      case _ => ""
    }
    ev.copy(code =
      code"""
        ${arrGen.code}
        ${posGen.code}
        boolean ${ev.isNull} = ${arrGen.isNull} || ${posGen.isNull} ||
          ${posGen.value} < 0;
        long ${ev.value} = ${seedVal}L;
        if (!${ev.isNull}) {
          org.apache.spark.sql.catalyst.util.ArrayData $a = ${arrGen.value};
          int $end = (int) Math.min((long) ${posGen.value} + ${lenVal}L,
            (long) $a.numElements());
          for (int $i = ${posGen.value}; $i < $end; $i++) {
            if (!$a.isNullAt($i)) { $upd }
          }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GramHash =
    copy(arr = newChildren(0), pos = newChildren(1), len = newChildren(2),
      seed = newChildren(3))
}

object GramHash {
  /** Seed matching `xxhash64(slice(...))` (Spark's fixed seed). */
  val DefaultSeed = 42L
  /** Seed matching `xxhash64(7L, slice(...))` — the 7L prefix folded. */
  val AltSeed: Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(7L, 42L)
}
