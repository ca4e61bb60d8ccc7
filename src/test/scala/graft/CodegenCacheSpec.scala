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
    // on every run whatever the cache size (ns_pipeline_manifest: 4); a
    // cache smaller than the pass's working set recompiles hundreds.
    assert(totals.last <= names.size,
      s"third pass compiled ${totals.last} classes (passes: $totals): " +
        passes.last.filter(_._2 > 0).mkString(", "))
  }
}
