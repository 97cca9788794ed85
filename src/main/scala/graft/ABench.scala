package graft

/** Standing interleaved A/B harness for the measurement discipline
  * (docs/SCALE.md): per-query wall times swing ±50% across JVM
  * invocations on this host, so perf decisions are made ONLY from
  * interleaved min-of-N comparisons inside one JVM. This main runs the
  * named query alternating two values of one conf — the axis, given as
  * args 4–6 (`<key> <valueA> <valueB>`; default: the adopted AQE
  * coalesce floor vs Spark's default). Code variants still use
  * throwaway runMains. Decisions it produced are ledgered in
  * docs/SCALE.md §r17+.
  * Usage: runMain graft.ABench <sfDir> <query> [reps [key valueA valueB]]
  */
object ABench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.ABench <sfDir> <query> [reps]")
    val spark = Sessions.get("graft-abench")
    val Array(dir, name) = args.take(2)
    val reps = if (args.length > 2) args(2).toInt else 5
    val fn = SparkEntry.queries(name)
    def run(): Double = Measure.query(spark, fn, dir).wallS
    // axis: default = the adopted coalesce floor vs Spark's default;
    // override with <key> <valueA> <valueB> as args 4-6
    val (key, va, vb) =
      if (args.length >= 6) (args(3), args(4), args(5))
      else ("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB", "64KB")
    def confA(): Unit = spark.conf.set(key, va)
    def confB(): Unit = spark.conf.set(key, vb)
    // warmup both confs
    confA(); run()
    confB(); run()
    val a = scala.collection.mutable.ArrayBuffer.empty[Double]
    val b = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to reps).foreach { _ =>
      confA(); a += run()
      confB(); b += run()
    }
    def stats(xs: Seq[Double]) = f"min ${xs.min}%.3f med ${Bench.median(xs)}%.3f  [${xs.map(x => f"$x%.2f").mkString(" ")}]"
    println(s"[abench] $name A($key=$va): ${stats(a.toSeq)}")
    println(s"[abench] $name B($key=$vb): ${stats(b.toSeq)}")
    spark.stop()
  }
}
