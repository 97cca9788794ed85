package graft

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
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val run = (1 to Reps).map(_ => Measure.query(spark, fn, dir)).last
      println(f"===== $n%s: ${run.wallS}%.3f s, ${run.jobs.size}%d jobs, ${run.stages.size}%d stages =====")
      run.stages.foreach(s => println(f"  ${s.wallMs}%6d ms wall ${s.runMs}%6d ms run ${s.tasks}%4d tasks  ${s.name}%s"))
    }
    spark.stop()
  }
}
