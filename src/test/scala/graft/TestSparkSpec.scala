package graft

import org.apache.logging.log4j.LogManager
import org.scalatest.funsuite.AnyFunSuite

/** The spec helpers of [[TestSpark]] hear what they claim to. */
class TestSparkSpec extends AnyFunSuite {

  test("warnings on a base class hears the loggers of its subclasses, and no other") {
    val (_, warns) = TestSpark.warnings(classOf[org.apache.spark.rdd.RDD[_]].getName) {
      // Spark's Logging names a logger after the runtime class
      LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD").warn("TestSparkSpec: subclass")
      LogManager.getLogger(classOf[org.apache.spark.SparkContext].getName)
        .warn("TestSparkSpec: unrelated class")
      LogManager.getLogger("TestSparkSpec.notAClass").warn("TestSparkSpec: not a class")
    }
    assert(warns == Seq("TestSparkSpec: subclass"))
  }
}
