package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The shared session tuning, on the suite's own session (built through
  * [[SessionTuning.tuned]] like every runner's).
  */
class SessionTuningSpec extends AnyFunSuite with SparkFixture {

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a compiled shape outlives more shapes than Spark's 100-entry cache") {
    // each literal pair inlines into its own generated class
    def shape(i: Int) =
      spark.range(8).selectExpr(s"id * ${i + 7} + $i AS x").collect()
    val c0 = compiles
    (0 until 150).foreach(shape)
    assert(compiles - c0 >= 150, "every shape must compile its own class")
    val c1 = compiles
    shape(0)
    assert(compiles == c1, "re-running a cached shape must not recompile")
  }
}
