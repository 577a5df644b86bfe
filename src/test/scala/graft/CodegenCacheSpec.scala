package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A session keeps the classes it generated: a second pass over the
  * headline queries compiles nothing. The headline set needs more
  * classes than Spark's default 100-entry cache holds, so under that
  * default every pass would recompile.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Generated classes compiled while every headline query runs once. */
  private def pass(): Long = {
    val c0 = compiles
    Bench.headline.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    compiles - c0
  }

  test("a second pass over the headline queries compiles no new classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
    val first = pass()
    val second = pass()
    info(s"compiled: first pass $first, second pass $second")
    assert(second === 0, s"first pass compiled $first classes")
  }
}
