package graft

/** A served engine runs the same handlers again and again; Spark's
  * JVM-wide cache of generated classes must hold what one cyclic pass
  * over the headline queries generates, or every request recompiles
  * its plan ([[SessionTuning.CodegenCacheEntries]]).
  */
class CodegenCacheSpec extends SparkSpec {

  test("the session's codegen cache size is SessionTuning's") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      SessionTuning.CodegenCacheEntries.toString)
  }

  test("two constructions of ns_pipeline_manifest generate identical code") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // The class cache keys on the generated body. Adaptive execution
    // numbers whole-stage codegen stages in the order it creates query
    // stages, and that order varies between runs of a plan whose
    // branches finish in either order; so a body must not depend on
    // its stage id. Regenerating every stage under a shifted id
    // exposes a dependency on every run, not just on an unlucky one.
    def bodies(idShift: Int): Set[String] = {
      val df = SparkEntry.queries("ns_pipeline_manifest")(spark, sfDir)
      df.collect()
      new AdaptiveSparkPlanHelper {}
        .collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
        .map(w => WholeStageCodegenExec(w.child)(w.codegenStageId + idShift).doCodeGen()._2.body)
        .toSet
    }
    val (first, second) = (bodies(0), bodies(7))
    assert(first.nonEmpty)
    assert(first == second,
      s"${(first -- second).size} of ${first.size} generated bodies differ between constructions")
  }

  test("a third cyclic pass over the headline queries compiles at most one class per query run") {
    val engine = SparkEntry.engineFor(spark)
    val names = SparkEntry.benchQueries.keys.toSeq.sorted ++ SparkEntry.benchNorthStar
    assert(names.size == 16)
    val passes = (1 to 3).map { _ =>
      names.map { name =>
        val c0 = JvmProbes.codegenCompiles
        engine.queryEnvelope(name, Seq(sfDir)).get
        name -> (JvmProbes.codegenCompiles - c0)
      }
    }
    val totals = passes.map(_.map(_._2).sum)
    info(s"classes compiled per pass: ${totals.mkString(", ")}")
    // A query whose generated source differs per construction recompiles
    // on every run whatever the cache size; a cache smaller than the
    // pass's working set recompiles hundreds.
    assert(totals.last <= names.size,
      s"third pass compiled ${totals.last} classes (passes: $totals): " +
        passes.last.filter(_._2 > 0).mkString(", "))
  }
}
