package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Stage-level profiler for local perf iteration: runs each named query
  * [[Reps]] times into the noop sink and prints, for the LAST (warm)
  * run, every stage's wall duration, executor-run-time sum, and task
  * count — the attribution data the bench's min-of-N total hides.
  * Usage: sbt "runMain graft.Profile /root/testdata/sf0.1 q1 q2 ..."
  */
object Profile {
  private val Reps = 3
  def main(args: Array[String]): Unit = {
    val spark = Sessions.get("graft-profile")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("argmax_per_group")
    case class St(name: String, wallMs: Long, runMs: Long, tasks: Int)
    // mutated from the listener-bus thread, read from main — all access
    // under the buffer's own lock, with the bus DRAINED (not slept past)
    // at each read/clear point so warmup stages can't bleed into the
    // timed run's attribution
    val stages = mutable.ArrayBuffer.empty[St]
    val jobs = new AtomicInteger(0)
    def drain(): Unit = org.apache.spark.GraftBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += St(si.name.takeWhile(_ != '\n').take(60), wall,
            si.taskMetrics.executorRunTime, si.numTasks)
        }
      }
    })
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 until Reps).foreach { _ =>
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        Sessions.isolate(spark)
      }
      drain()
      stages.synchronized(stages.clear()); jobs.set(0)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      val snap = stages.synchronized(stages.toVector)
      println(f"===== $n%s: $dt%.3f s, ${jobs.get()}%d jobs, ${snap.size}%d stages =====")
      snap.foreach(s => println(f"  ${s.wallMs}%6d ms wall ${s.runMs}%6d ms run ${s.tasks}%4d tasks  ${s.name}%s"))
      Sessions.isolate(spark)
    }
    spark.stop()
  }
}
