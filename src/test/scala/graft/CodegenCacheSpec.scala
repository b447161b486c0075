package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** The codegen confs of [[GraftSession.required]]: a repeated workload
  * compiles nothing the second time, and identical stages share one
  * class. Both read JVM-wide codegen counters, which is safe because
  * the specs run one after another in one JVM.
  */
class CodegenCacheSpec extends SparkSpec {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cache misses (one per compile) while `f` runs. */
  private def compiles(f: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a repeated batch of 60 distinct stages compiles nothing the second time") {
    // query i adds i + 1 terms: 60 different stage classes, each
    // compiled under the driver's loader and the executor's — 120
    // cache entries, more than Spark's default 100-entry cache holds
    def batch(): Unit = (0 until 60).foreach { i =>
      noop(spark.range(0, 100, 1, 2)
        .select((1 to i + 1).foldLeft(col("id"))((c, j) => c + j).as("v")))
    }
    batch()
    val t0 = CodeGenerator.compileTime
    batch()
    assert(CodeGenerator.compileTime - t0 === 0L,
      "the second pass recompiled classes the first pass compiled")
  }

  test("a union of 4 identical sources compiles one class per loader, as one source does") {
    // a fresh long literal (inlined into the generated code) keeps
    // every class of this test out of the cache
    val mark = System.nanoTime()
    def source(m: Long) = spark.range(0, 10, 1, 1).select((col("id") + lit(m)).as("v"))
    val one = compiles(noop(source(mark)))
    val four = compiles(noop(Seq.fill(4)(source(mark + 1)).reduce(_ unionByName _)))
    assert(one === 2L, "one source: one compile on the driver, one under the executor")
    assert(four === one, "the 4 branches' identical stages must share one class")
  }
}
