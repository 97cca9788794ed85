package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.GraftBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.jdk.CollectionConverters._

/** The one run recorder: every bench, profile and spec that times a body
  * of work, or counts the jobs, stages and generated classes it ran, goes
  * through [[apply]]; a registry query's isolated run through [[query]].
  *
  * Spark delivers job and stage events on its listener bus, after the
  * work that posted them. So [[apply]] drains the bus before it attaches
  * its listener, or an event still in flight from earlier work would
  * count in this run (mid-suite, that added 27% to `corpus_pipeline`'s
  * shuffle rows), and again after the body, or the body's own last events
  * would be missed. Both drains lie outside the clock.
  */
object Measure {
  /** One completed stage: its first name line, wall time from submission
    * to completion (-1 when Spark recorded neither), executor run time
    * summed over its tasks, its task count, the shuffle records it read
    * and wrote, and the names of its RDDs. */
  final case class Stage(name: String, wallMs: Long, runMs: Long, tasks: Int,
      shuffleReadRecords: Long, shuffleWriteRecords: Long, rddNames: Seq[String])

  /** What one measured body did: the wall seconds of the body alone, the
    * descriptions of the jobs it started in start order ("" for a job
    * without one), the stages that completed, and the generated classes
    * compiled with their compile seconds. Jobs a body starts on another
    * thread count too, with the description that thread carries. */
  final case class Run(wallS: Double, jobs: Seq[String], stages: Seq[Stage],
      codegenClasses: Long, codegenCompileS: Double) {
    def tasks: Long = stages.map(_.tasks.toLong).sum
    def shuffleWriteRecords: Long = stages.map(_.shuffleWriteRecords).sum
  }

  def apply[T](spark: SparkSession)(body: => T): (T, Run) = {
    val sc = spark.sparkContext
    GraftBusDrain.drain(sc)
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = Option(i.taskMetrics)
        stages.add(Stage(i.name.takeWhile(_ != '\n'),
          (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(-1L),
          m.fold(0L)(_.executorRunTime), i.numTasks,
          m.fold(0L)(_.shuffleReadMetrics.recordsRead),
          m.fold(0L)(_.shuffleWriteMetrics.recordsWritten), i.rddInfos.map(_.name)))
      }
    }
    sc.addSparkListener(listener)
    try {
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val out = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      GraftBusDrain.drain(sc)
      (out, Run(wallS, jobs.asScala.toSeq, stages.asScala.toSeq, classes, compileS))
    } finally sc.removeSparkListener(listener)
  }

  /** One full evaluation of `fn` into the noop sink (every row and column
    * computed, no I/O) under [[apply]]. Then, outside the clock and also
    * when the run fails, the session is isolated ([[Sessions.isolate]])
    * and the heap collected, so the next run starts from the same storage
    * state and pays for none of this run's garbage. A campaign's queries,
    * which ride each other's staged relations, pass `isolate = false`. */
  def query(spark: SparkSession, fn: operators.Q, dir: String, isolate: Boolean = true): Run =
    try apply(spark)(fn(spark, dir).write.format("noop").mode("overwrite").save())._2
    finally if (isolate) {
      Sessions.isolate(spark)
      System.gc()
    }
}
