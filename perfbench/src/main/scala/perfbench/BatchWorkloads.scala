package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.{Models, SparkEntry}

/** `registry_floor`: registry queries at sf0.01, where fixed per-query
  * costs (construction, analysis, optimisation, codegen, job scheduling)
  * set the time, run one at a time and isolated the way `graft.Bench`
  * isolates them (cache, persisted RDDs and trained models wiped between
  * queries). Each is timed from the call into the query function to the
  * return of its `noop`-sink write. */
object BatchWorkloads {

  /** Queries whose input is a tree of captured HTML pages outside the
    * data directory (the `html_scan_*` family). They cannot be measured
    * from the checkout, so each is attempted once, untimed and not
    * retried, and its failure is recorded with its exception class. */
  val pageFixtureQueries: Set[String] = graft.operators.ScanQueries.queries.keySet

  final case class Sample(name: String, module: String, pass: Int, ok: Boolean,
      error: Option[String], wallS: Double, constructS: Double, trace: String,
      querySpan: Long, codegenNs: Long, codegenClasses: Long, warnLines: Long,
      cleanupS: Double)

  /** The timed floor sample, by name and operator module: from each of
    * the six modules that registered the most queries when it was chosen
    * (120 of 203), one query outside the band whose time data volume sets.
    * Fixed by name so that every run, before and after a change, times the
    * same work; a run fails if one has left the registry. */
  val Floor: Seq[(String, String)] = Seq(
    "anti_join_seen_set" -> "Relational", "containment_verify" -> "Dedup",
    "benchmark_contamination" -> "Curation", "bigram_lm_score" -> "TextAnalysis",
    "batch_mixing_report" -> "TrainingMix", "anomaly_mad" -> "Windows")
  private val moduleOf: Map[String, String] = Floor.toMap

  def registryFloor(spark: SparkSession, tracer: Tracer, a: Main.Args): Main.Result = {
    val missing = Floor.map(_._1).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"floor queries missing from SparkEntry.queries: $missing")
    run(spark, tracer, a, s"${a.data}/sf0.01", Floor.map(_._1),
      attemptOnce = pageFixtureQueries.toSeq.sorted)
  }

  /** `graft.Bench`'s isolation between queries; `gc` also collects this
    * query's garbage so the next timed one is not charged for it. */
  private def cleanup(spark: SparkSession, gc: Boolean = true): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    Models.invalidate(spark)
    if (gc) System.gc()
  }

  private def errName(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    if (c eq e) e.getClass.getName else s"${e.getClass.getName} <- ${c.getClass.getName}"
  }

  /** Timed passes, after one untimed warm-up pass. */
  private val Passes = 6

  private def run(spark: SparkSession, tracer: Tracer, a: Main.Args, dir: String,
      names: Seq[String], attemptOnce: Seq[String]): Main.Result = {
    val queries = SparkEntry.queries
    val dumpDir = s"${a.work}/results"
    val rng = new scala.util.Random(a.seed)
    val runSpan = tracer.newId()
    // one pass over the sample in seed-permuted order, each query cleaned
    // up after it; pass 0 writes each result for the oracle check
    def pass(p: Int, parent: Long): Seq[Sample] = {
      val order = rng.shuffle(names)
      tracer.span(spark, parent, s"pass$p", "pass", s"pass $p") { passSpan =>
        order.map(q => runOne(spark, tracer, dir, queries(q), q, p, passSpan,
          if (p == 0) Some(s"$dumpDir/p0/$q") else None))
      }
    }
    // ---- set-up: the untimed warm-up pass (the work `graft.Bench`'s
    // warm-up does, on the sampled queries themselves), then the
    // known-failing attempts
    val checked = pass(0, 0L)
    val onceFailures = attemptOnce.map { q =>
      val err =
        try { queries(q)(spark, dir).write.format("noop").mode("overwrite").save(); None }
        catch { case NonFatal(e) => Some(errName(e)) }
      cleanup(spark, gc = false)
      q -> err
    }
    System.gc()
    val setupS = Main.uptimeS()
    Main.mark("setup")

    // ---- timed passes. A query's time is its fastest pass, as in
    // `graft.Bench`.
    val tStart = System.nanoTime()
    val startMs = tracer.now()
    val samples = (1 to Passes).flatMap(p => pass(p, runSpan))
    val endMs = tracer.now()
    Main.mark("timed")
    tracer.record(Span(runSpan, 0, "run", "workload", a.workload, startMs, endMs))
    writeOracles(s"$dumpDir/oracle_sql.json", names)

    // ---- metrics
    val best = samples.filter(_.ok).groupBy(_.name).map { case (q, ss) =>
      q -> ss.map(_.wallS).min }
    val walls = best.values.toSeq
    val batchS = walls.sum
    val attempted = checked.size + samples.size
    val failed = checked.count(!_.ok) + samples.count(!_.ok)
    val knownFailed = onceFailures.count(_._2.isDefined)
    val attemptedAll = attempted + onceFailures.size
    val endToEnd = Map("setup_s" -> setupS, "batch_s" -> batchS)
    val reported = Map(
      "batch_s" -> batchS,
      "query_p50_s" -> Main.percentile(walls, 50),
      "query_p95_s" -> Main.percentile(walls, 95),
      "fail_frac" -> (failed + knownFailed).toDouble / attemptedAll)
    val perLayer =
      if (tracer.enabled) layers(spark, tracer, samples, best)
      else Map.empty[String, Double]
    Main.Result(setupS, attempted, failed, endToEnd, reported, perLayer, Map(
      "data_dir" -> dir,
      "passes" -> Passes,
      "queries_per_pass" -> names.size,
      "timed_s" -> (System.nanoTime() - tStart) / 1e9,
      "warm_up_samples" -> checked,
      "samples" -> samples,
      "sample_count" -> samples.size,
      "best_s" -> best,
      "attempted_once" -> onceFailures.map { case (q, e) =>
        Map("query" -> q, "failed" -> e.isDefined, "error" -> e) },
      "attempted_all" -> attemptedAll,
      "failed_all" -> (failed + knownFailed),
      "results_dir" -> dumpDir,
      "checked_queries" -> checked.filter(_.ok).map(s => s"p0/${s.name}")))
  }

  private def runOne(spark: SparkSession, tracer: Tracer, dir: String,
      fn: (SparkSession, String) => DataFrame, name: String, pass: Int, passSpan: Long,
      dumpPath: Option[String]): Sample = {
    val trace = s"p$pass/$name"
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val w0 = tracer.warnLines.sum()
    var err: Option[String] = None
    var constructS = 0.0
    var querySpan = 0L
    val t0 = System.nanoTime()
    try tracer.span(spark, passSpan, trace, "query", name) { qs =>
      querySpan = qs
      val df = tracer.span(spark, qs, trace, "construct", name, "construct")(_ => fn(spark, dir))
      constructS = (System.nanoTime() - t0) / 1e9
      // the warm-up pass writes the result to parquet for the oracle check
      tracer.span(spark, qs, trace, "execute", name, "execute") { _ =>
        dumpPath match {
          case Some(path) => df.write.mode("overwrite").parquet(path)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      }
    } catch { case NonFatal(e) => err = Some(errName(e)) }
    val t1 = System.nanoTime()
    val codegenNs = CodeGenerator.compileTime - cg0
    val codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
    val warnLines = tracer.warnLines.sum() - w0
    cleanup(spark)
    Sample(name, moduleOf.getOrElse(name, ""), pass, err.isEmpty, err, (t1 - t0) / 1e9,
      constructS, trace, querySpan, codegenNs, codegenClasses, warnLines,
      (System.nanoTime() - t1) / 1e9)
  }

  private def writeOracles(path: String, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Main.writeJson(java.nio.file.Paths.get(path),
      names.flatMap(n => sql.get(n).map(n -> _)).toMap)
  }

  /** Per-layer metrics of one traced run, per pass. */
  private def layers(spark: SparkSession, tracer: Tracer, samples: Seq[Sample],
      best: Map[String, Double]): Map[String, Double] = {
    tracer.drain(spark)
    val spans = tracer.withSparkSpans
    val queryIds = samples.map(_.querySpan).toSet
    val leaf = spans.filter(s => queryIds.contains(s.parent) &&
      (s.kind == "construct" || s.kind == "execute"))
    val common = Layers.common(tracer, spans, leaf, Passes)
    val perPass = (x: Double) => x / Passes
    // like batch_s: each module's one sampled query, at its fastest pass
    val ops = Floor.map { case (q, m) => s"op.${m}_s" -> best.getOrElse(q, 0.0) }
    common ++ ops ++ Map(
      "construct_s" -> perPass(samples.map(_.constructS).sum),
      "codegen_compile_s" -> perPass(samples.map(_.codegenNs).sum / 1e9),
      "codegen_classes" -> perPass(samples.map(_.codegenClasses).sum.toDouble),
      "warn_lines" -> perPass(samples.map(_.warnLines).sum.toDouble))
  }
}
