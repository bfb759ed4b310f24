package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Warm queries must reuse their generated classes. The mix is larger
  * than Spark's default codegen cache (100 entries), so with that
  * default every class of the first pass is evicted before the second
  * pass asks for it again and the second pass recompiles all of them. */
class CodegenCacheSpec extends SparkSpec {

  test("a repeated mix of distinct queries compiles nothing on its second run") {
    // each literal is inlined into the generated code, so every query
    // compiles a class of its own
    val literals = (0 until 200).map(i => 1000003L + i)
    def runMix(): Unit = literals.foreach { k =>
      val got = spark.range(1, 2).selectExpr(s"id * $k AS v").collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(k))
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val start = compiles
    runMix()
    val firstRun = compiles - start
    assert(firstRun >= literals.size,
      s"the mix compiled $firstRun classes; expected one per query at least")
    val warm = compiles
    runMix()
    assert(compiles - warm == 0,
      s"the warm run recompiled ${compiles - warm} classes")
  }
}
