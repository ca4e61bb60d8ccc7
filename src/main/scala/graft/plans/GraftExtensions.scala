package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{GramHash, KMinValues, LshBucket, MaxSimScore, ScaledDotProduct, SortedOverlap, SquaredL2}

/** SparkSessionExtensions entry point (SURVEY.md §7.3): registers the
  * engine's native expressions into any session built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`).
  *
  * This is the idiomatic injection route for custom Catalyst pieces —
  * today only functions; a custom Rule/Strategy would be injected here
  * too if one ever became necessary (SURVEY §4.2 concluded none is for
  * the core contract).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

/** The one list of native functions, injected at session build
  * ([[GraftExtensions]]) or added afterwards ([[registerIn]]). */
object GraftExtensions {
  type NativeFunction = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_], usage: String)(
      build: PartialFunction[Seq[Expression], Expression]): NativeFunction =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getCanonicalName, null, name, s"$name$usage", ""),
      args => build.applyOrElse(args, (a: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name: wrong number of arguments (${a.size}); usage: $name$usage")))

  val functions: Seq[NativeFunction] = Seq(
    fn("scaled_dot", classOf[ScaledDotProduct],
      "(a, b) - exact bigint sum of floor(a[i]*b[i]*2^40).") {
      case Seq(a, b) => ScaledDotProduct(a, b)
    },
    fn("maxsim_score", classOf[MaxSimScore],
      "(q, c) - late-interaction score: sum over 8 query sub-vectors of " +
        "the max exact fixed-point sub-dot vs the candidate.") {
      case Seq(a, b) => MaxSimScore(a, b)
    },
    fn("kmv_sketch", classOf[KMinValues],
      "(expr, k) - array of the k smallest distinct bigint values; k a literal int.") {
      case Seq(child, k) => k.eval(InternalRow.empty) match {
        case i: Int => KMinValues(child, i)
        case l: Long => KMinValues(child, l.toInt)
        case other => throw new IllegalArgumentException(
          s"kmv_sketch k must be a literal int, got $other")
      }
    },
    fn("sq_l2", classOf[SquaredL2],
      "(a, b[, off]) - exact bigint sum of (a[off+i]-b[i])^2.") {
      case Seq(a, b) => SquaredL2(a, b)
      case Seq(a, b, off) => SquaredL2(a, b, off)
    },
    fn("lsh_bucket", classOf[LshBucket],
      "(embedding) - fused 8-bit sign-LSH bucket (0..255).") {
      case Seq(a) => LshBucket(a)
    },
    fn("sorted_overlap", classOf[SortedOverlap],
      "(a, b) - intersection cardinality of two sorted int arrays.") {
      case Seq(a, b) => SortedOverlap(a, b)
    },
    fn("gram_hash", classOf[GramHash],
      "(arr, pos, len, seed) - xxhash64 of arr[pos, pos+len) without slicing.") {
      case Seq(a, p, l, s) => GramHash(a, p, l, s)
    })

  /** Adds every function the session lacks — idempotent, so a session
    * built without the extension (e.g. one the calling application
    * built) gets the same functions; [[graft.SparkEntry.engineFor]]
    * calls it once per session. */
  def registerIn(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
