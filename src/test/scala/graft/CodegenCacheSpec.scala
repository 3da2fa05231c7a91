package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import scala.jdk.CollectionConverters._

/** Spark's generated-class cache holds a repeated query batch. The cache
  * is sized once per JVM, by the session of its first codegen, so this
  * also shows that the test JVM's cache was sized by a graft session. */
class CodegenCacheSpec extends GraftSpec {
  test("a second pass of the benchmark's suite_mix queries compiles no generated class") {
    val names = new ObjectMapper().readTree(new java.io.File("perfbench/expected.json"))
      .get("suite_mix").fieldNames().asScala.toSeq
    assert(names.size == 8)
    def pass(): Long = {
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach(n => SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save())
      operators.SessionMemo.release(spark, sfDir)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
    }
    val first = pass()
    val second = pass()
    assert(second == 0, s"the second pass recompiled $second of the first pass's $first classes")
  }
}
