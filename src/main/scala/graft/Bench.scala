package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Times every registered query (or the ones named as arguments): each
  * query runs 2–6 times back to back, isolated from the others, and its
  * fastest run is its time. The record also carries, per query, what
  * its first and its fastest run did ([[Measure.Run]]): generated
  * classes and their compile time, jobs, stages, tasks and shuffle
  * records written.
  *
  * Back-to-back min-of-N hides cross-query eviction from Spark's
  * generated-class cache: a query's second run always finds its own
  * classes cached, even when a mixed stream of queries would have
  * evicted them between two calls. The `first` codegen counts show what
  * a query compiles with a cold cache; `perfbench`'s `registry_floor`,
  * which interleaves queries, is where eviction shows.
  */
object Bench {
  /** Touches every table once (parquet footers, FS metadata) and runs
    * one tiny query end to end (codegen/JIT paths), so the first
    * measured query isn't charged for session warm-up. A NonFatal
    * failure is logged: a broken table or query loses ITS warm-up
    * benefit only and must never zero the whole round. An
    * OutOfMemoryError/LinkageError still throws: the JVM is then already
    * corrupted, and measuring in it would record garbage. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    def warm(what: String)(body: => Unit): Unit =
      try body
      catch { case NonFatal(e) => System.err.println(s"[bench] warm-up $what failed: ${e.getMessage}") }
    Tables.names.foreach(n => warm(s"count $n")(Tables.table(spark, sfDir, n).count()))
    warm("argmax_per_group")(Measure.query(spark, SparkEntry.queries("argmax_per_group"), sfDir))
  }

  /** Writes `line` to the committed record `file` (stdout is no durable
    * record: a log-tail capture truncated r14's, losing ~55 entries), but
    * only from the repo root and for the canonical sf0.1 data: a smoke
    * run's numbers are not comparable, and another CWD would scatter
    * stray files. The data dir is compared by path identity (a trailing
    * slash or a symlink still records), by string when it can't resolve. */
  private[graft] def recordCanonical(file: String, sfDir: String, line: String): Unit = {
    val canonical = "/root/testdata/sf0.1"
    val canonicalSf =
      try Paths.get(sfDir).toRealPath() == Paths.get(canonical).toRealPath()
      catch { case NonFatal(_) => sfDir == canonical }
    if (canonicalSf && Files.exists(Paths.get("build.sbt")))
      try Files.write(Paths.get(file), (line + "\n").getBytes(UTF_8))
      catch { case NonFatal(e) => System.err.println(s"[bench] $file write failed: ${e.getMessage}") }
  }

  /** The median; even sizes average the two middle elements — upper-of-
    * two would systematically overstate a spread read from it (most
    * queries record exactly 2 samples). */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** A failed run: +inf, so the min-of-N below can never let a fast
    * FAILURE displace a valid measurement (a transient error's near-zero
    * elapsed time would otherwise record as a bogus best); a query
    * failing on every run records +inf — loud in the JSON, and the
    * correctness gate flags it independently. */
  private val Failed = Measure.Run(Double.PositiveInfinity, Nil, Nil, 0L, 0.0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.get("graft-bench")
    warmUp(spark, sfDir)
    // Optional args narrow the run to named queries (local iteration).
    val picked =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    // One isolated, timed run (Measure.query): the cleanup after it keeps
    // queries that cache intermediates (signature relations, checkpointed
    // loops) from squeezing later measurements.
    def run(name: String, fn: operators.Q): Measure.Run =
      try Measure.query(spark, fn, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Failed
      }
    // Host-contention de-noising: the recorded number is the MIN of two
    // fully-isolated runs (three when still >0.5 s — r15 measured ±50%
    // swings on IDENTICAL code across whole-JVM invocations, so every
    // query past the scheduling floor gets the extra sample; the
    // sub-0.5 s floor queries are constants-dominated and stable). The
    // driver record swung ±40% on unchanged binaries (r7, r9) from
    // single-shot timing; the min over isolated runs converges to the
    // machine's clean capability while still paying every run's full
    // compute (state is wiped between runs — only JVM/JIT warm-up
    // carries, which is exactly the noise-floor a steady-state
    // measurement should exclude).
    val runs = picked.toSeq.sortBy(_._1).map { case (name, fn) =>
      var samples = Vector(run(name, fn), run(name, fn))
      // adaptive sampling for the noisy tail: queries past the 0.5 s
      // scheduling floor get up to TWO extra isolated runs (r18: the
      // host's ±40% per-run swing is widest exactly on the 0.8–1.5 s
      // queries the weak rule's 1 s absolute bar cuts through, and
      // min-of-4 measurably tightens the estimator there; sub-0.5 s
      // queries are constants-dominated and stable at 2), and the
      // >0.8 s band gets up to TWO more (r17: interleaved ABench floors
      // sit 0.2–0.4 s BELOW this harness's min-of-4 on bm25/pq_adc —
      // C2-compilation of the generated code needs more invocations
      // than 4 to finish, and JIT warm-up is exactly the noise a
      // steady-state measurement should exclude, per the paragraph
      // above; min-of-6 closes most of that gap without re-timing the
      // whole registry)
      def best = samples.map(_.wallS).min
      while (best > 0.5 && samples.size < 4)
        samples :+= run(name, fn)
      while (best > 0.8 && samples.size < 6)
        samples :+= run(name, fn)
      name -> samples
    }
    val sampled = runs.map { case (name, rs) =>
      name -> rs.map(_.wallS).filterNot(_.isInfinite).sorted.toList }
    val results = sampled.map { case (name, ss) =>
      // every run failed → record the parseable -1.0 sentinel ("Infinity"
      // would break the driver's json.load for the whole record)
      name -> (if (ss.isEmpty) -1.0 else ss.min)
    }
    // round-over-round comparability: alongside the per-query mins,
    // record how many isolated samples each min was taken over and the
    // median-based total — the min-total converges to the machine's
    // clean capability, the median-total tracks the session's actual
    // contention, and the gap between them IS the host-drift band that
    // otherwise reads as a regression across rounds
    val totalMedian = sampled.collect {
      case (_, ss) if ss.nonEmpty => median(ss) }.sum
    val samplesJson = sampled.map { case (k, ss) => s"\"$k\":${ss.size}" }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // failures are ALSO listed by name so a sign-unaware consumer
    // (ratio/sum tooling) can't read the -1.0 sentinel as a very fast
    // valid time; the failed queries' sentinels are excluded from total
    val failedArr = results.collect { case (k, v) if v < 0 => s"\"$k\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // per query, its FIRST run (what a query pays when its classes are
    // not cached) and its FASTEST run (the one its time is taken from)
    def firstFastest(field: Measure.Run => String) = runs.map { case (k, rs) =>
      s""""$k":{"first":${field(rs.head)},"fastest":${field(rs.minBy(_.wallS))}}"""
    }.mkString("{", ",", "}")
    val classesJson = firstFastest(_.codegenClasses.toString)
    val compileJson = firstFastest(r => f"${r.codegenCompileS}%.3f")
    val jobsJson = firstFastest(_.jobs.size.toString)
    val stagesJson = firstFastest(_.stages.size.toString)
    val tasksJson = firstFastest(_.tasks.toString)
    val shuffleJson = firstFastest(_.shuffleWriteRecords.toString)
    // the JVM's footprint after the sweep: metaspace holds every cached
    // generated class, so it grows with the codegen cache's working set
    val metaspaceMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum / 1048576.0
    val rssMb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst { case l if l.startsWith("VmRSS:") =>
        l.split("\\s+")(1).toDouble / 1024 }.get
      finally src.close()
    }.getOrElse(-1.0)
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$total%.3f,"total_median":$totalMedian%.3f,"samples":$samplesJson,"queries":$qs,"failed":$failedArr,"codegen_classes":$classesJson,"codegen_compile_s":$compileJson,"jobs":$jobsJson,"stages":$stagesJson,"tasks":$tasksJson,"shuffle_write_records":$shuffleJson,"metaspace_mb":$metaspaceMb%.1f,"rss_mb":$rssMb%.1f,"sf":"$sfDir"}"""
    println(line)
    // The full record above runs to tens of KB at the 203-query
    // registry; a log tail capture that keeps the last ~2 KB of stdout
    // chops its HEAD, leaving nothing parseable. Emit a compact totals-only record
    // as the LAST stdout line so any tail window ends with one complete
    // JSON object; the per-query map stays available in the full line,
    // the stderr echo, and the durable file below.
    // carries the structured totals (the BENCH_LOCAL schema's summary
    // fields) so a tail-window capture still yields the parsed
    // round-over-round comparison numbers without scraping logs
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$total%.3f,"total_median":$totalMedian%.3f,"n_queries":${results.size},"failed":$failedArr,"sf":"$sfDir"}"""
    // stdout gets truncated in long driver logs; echo on stderr (captured
    // separately) and keep a durable file copy. SPARK_GRAFT_BENCH_OUT
    // overrides the path so concurrent runs don't clobber each other (and
    // a fixed world-writable /tmp name is symlink-redirectable); default
    // is a per-run temp file whose path is announced on stderr.
    System.err.println(line)
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT").map(Paths.get(_))
      .getOrElse(Files.createTempFile("graft-bench-", ".json"))
    Files.write(out, (line + "\n").getBytes(UTF_8))
    System.err.println(s"[bench] wrote $out")
    // a narrowed iteration run must not overwrite the last complete record
    if (args.isEmpty) recordCanonical("BENCH_LOCAL.json", sfDir, line)
    println(compact) // keep LAST on stdout (Spark logs go to stderr)
    spark.stop()
  }
}
