package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The compiled-class cache the session contract sizes ([[GraftSession]]).
  * The cap is static and JVM-global, so the spec checks the cache's
  * behaviour on the live session, not the conf value: a working set larger
  * than Spark's default of 100 classes stays compiled. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A whole-stage-codegen'd projection whose long literal is inlined into
    * the generated source, so each `i` is a distinct class. */
  private def shape(i: Int): Unit = {
    spark.range(8).selectExpr(s"id * ${i}L + 1 AS x").collect()
    ()
  }

  test("150 distinct codegen'd shapes later, the first one runs without compiling") {
    val start = compiles
    (0 until 150).foreach(shape)
    assert(compiles - start >= 150, "the shapes did not compile one class each")
    val before = compiles
    shape(0)
    assert(compiles - before == 0, "the first shape's classes were evicted and compiled again")
  }
}
