package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache holds the engine's working set.
  *
  * The cache is JVM-wide and LRU. At Spark's default of 100 entries, a
  * mixed stream of queries evicts each query's classes before it runs
  * again, so every call recompiles them. `Sessions.builder` sizes it for
  * the whole registry; these tests fail at the default size. They also
  * fail if any code in the test JVM generated code before
  * `TestSpark.spark` existed: the cache is sized once, when codegen is
  * first touched (see [[Sessions]]).
  */
class CodegenCacheSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.01"

  /** The generated classes `body` compiles. */
  private def compiled(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** 120 tiny queries whose code no other test generates: each inlines
    * its own long literal from a random `salt`, so on its first run each
    * compiles at least one new class. */
  private def churn(salt: Long): Unit =
    (0 until 120).foreach(i => spark.range(1).select((col("id") + lit(salt + i)).as("v")).collect())
  private def freshSalt(): Long = scala.util.Random.nextLong() >>> 2

  test("a query's classes survive more than 100 other compiles between its runs") {
    val q = SparkEntry.queries("anomaly_mad")
    def runQ(): Long = compiled {
      val df = q(spark, Dir)
      df.collect()
      // the query runs through generated code, so its rerun has classes to find
      assert(find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined)
      Sessions.isolate(spark)
    }
    runQ()
    val others = compiled(churn(freshSalt()))
    assert(others > 100, s"the queries in between compiled only $others classes")
    val again = runQ()
    assert(again == 0, s"anomaly_mad recompiled $again classes after $others other compiles")
  }

  test("this JVM's cache holds a working set of more than 100 classes") {
    val salt = freshSalt()
    val first = compiled(churn(salt))
    assert(first > 100, s"the working set compiled only $first classes")
    val second = compiled(churn(salt))
    assert(second == 0, s"a rerun of a $first-class working set recompiled $second")
  }
}
