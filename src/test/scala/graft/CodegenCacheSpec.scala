package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** Pins the session's generated-class cache size (GraftSession). The
  * iterative queries compile more classes per call than Spark's default
  * 100-entry cache holds, so without the setting every later call
  * recompiles nearly all of them. The conf is static and read once, so
  * the behavioural check below is what proves it reached the codegen
  * cache, not only the session conf.
  */
class CodegenCacheSpec extends SparkTestBase {

  test("the codegen cache size is set on the session") {
    assert(spark.conf.getOption("spark.sql.codegen.cache.maxEntries") === Some("4000"))
  }

  test("a second round over 150 distinct generated classes compiles nothing") {
    // Each literal is inlined into its stage's generated source, so the
    // 150 frames need 150 distinct classes: more than the default cache
    // holds, far fewer than the configured one.
    val frames = (0 until 150).map(i => spark.range(0, 8).select(col("id") + lit(10000L + i)))
    frames.foreach(_.collect())
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    frames.foreach(_.collect())
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0L)
  }
}
