package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One shared local session for all Spark-backed specs (saves ~6 s of
  * startup per suite; sbt forks one JVM for the whole test run). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Sessions.registerMetricsLogger(s) // graft_* tripwire metrics in specs too
    s
  }

  /** The descriptions of the Spark jobs that start while `body` runs,
    * in start order. A marker job run after `body` flushes the listener
    * bus, which delivers events in the order they were posted. */
  def jobDescriptions[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val marker = s"jobDescriptions marker ${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "the listener bus did not deliver the marker job")
      (out, seen.asScala.toSeq.filterNot(_ == marker))
    } finally sc.removeSparkListener(listener)
  }
}
