package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** `Tables.session` sizes Spark's generated-code cache to graft's working
  * set. With Spark's default of 100 classes, a query run again after 100
  * other plans finds its classes evicted and compiles them anew. */
class CodegenCacheSpec extends SparkSpec {

  test("a query rerun after more than 100 other plans compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      graft.sources.Tables.CodegenCacheEntries.toString)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    def query(): Unit = SparkEntry.queries("ticker_series_raw")(
      spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    query()
    // a primitive literal is part of the generated source: one class each
    val c0 = compiled.getCount
    (1 to 120).foreach(i =>
      spark.range(4).select((col("id") * lit(i)).as("x")).collect())
    val others = compiled.getCount - c0
    assert(others > 100, s"the other plans compiled only $others classes")
    val c1 = compiled.getCount
    query()
    assert(compiled.getCount - c1 === 0L)
  }
}
