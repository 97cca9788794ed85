package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Benchmark entry point: runs one workload in this JVM and writes its
  * run record (raw samples, metrics, verdicts) as JSON. `run.py` builds
  * the classpath, launches this main, checks batch outputs against the
  * DuckDB oracle and prints the final result line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --record FILE
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, record: String)

  /** What a workload hands back: its samples, verdicts and metrics. */
  final case class Result(
      setupS: Double,
      attempted: Int,
      failed: Int,
      endToEnd: Map[String, Double],
      reported: Map[String, Double],
      perLayer: Map[String, Double],
      record: Map[String, Any])

  /** JVM uptime at each phase boundary of the run, for the record. */
  private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit = phases(phase) = uptimeS()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = new Tracer(a.trace)
    val spark = graft.Sessions.get("perfbench")
    mark("session")
    tracer.install(spark)
    val master = spark.sparkContext.master
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
      .map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap
    val res =
      try a.workload match {
        case "registry_floor" => BatchWorkloads.registryFloor(spark, tracer, a)
        case "chat_backfill" => ChatWorkload.backfill(spark, tracer, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    mark("stopped")
    val rss = peakRssMb()
    val rec = res.record ++ Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "seconds" -> a.seconds,
      "trace" -> a.trace,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "setup_s" -> res.setupS,
      "peak_rss_mb" -> rss,
      "end_to_end" -> (res.endToEnd + ("peak_rss_mb" -> rss)),
      "reported" -> res.reported,
      "per_layer" -> res.perLayer,
      "phase_uptime_s" -> phases.toMap,
      "env" -> (env(a, master) + ("conf" -> conf)))
    writeJson(Paths.get(a.record), rec)
    if (a.trace) {
      val spans = tracer.withSparkSpans
      val self = Tracer.selfTimes(spans)
      writeJson(Paths.get(a.record.stripSuffix(".json") + ".spans.json"), Map(
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
          "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "self_ms" -> self.getOrElse(s.id, 0.0))),
        "jobs" -> tracer.jobs.values.asScala.toSeq.sortBy(_.jobId).map(j => Map(
          "job" -> j.jobId, "span" -> j.parentSpan, "trace" -> j.trace, "phase" -> j.phase,
          "batch" -> j.batchId, "stages" -> j.stageIds, "tasks" -> j.sums.tasks,
          "run_ms" -> j.sums.runMs, "cpu_ns" -> j.sums.cpuNs, "gc_ms" -> j.sums.gcMs,
          "sched_ms" -> j.sums.schedMs, "shuffle_write_bytes" -> j.sums.shWriteBytes,
          "shuffle_write_records" -> j.sums.shWriteRecords,
          "shuffle_read_bytes" -> j.sums.shReadBytes, "spill_bytes" -> j.sums.spillBytes,
          "input_bytes" -> j.sums.inBytes, "input_records" -> j.sums.inRecords,
          "output_bytes" -> j.sums.outBytes, "peak_exec_mem_bytes" -> j.sums.peakExecMem)),
        "plans" -> tracer.plans.asScala.toSeq))
    }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("record"))
  }

  /** Seconds from JVM start until now: the set-up a workload pays before
    * its first timed operation. */
  def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** The JVM's resident-set high-water mark (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def env(a: Args, master: String): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "master" -> master,
    "data_dir" -> a.data)

  // -------------------------------------------------------------------
  // shared statistics

  /** Linear-interpolation percentile (numpy's default) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  private lazy val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Writes `v` (maps, sequences, options, case classes) as JSON. */
  def writeJson(path: java.nio.file.Path, v: Any): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    mapper.writeValue(path.toFile, v)
  }
}
