package graft
import org.apache.spark.sql.SparkSession

/** One place for engine session construction so Verify, Bench, and the
  * test suites all run with identical semantics-relevant configuration.
  *
  * One setting of [[builder]] is not per session: the size of Spark's
  * generated-class cache (`spark.sql.codegen.cache.maxEntries`). The
  * cache is a static field of `CodeGenerator`, sized from `SQLConf.get`
  * when a JVM first touches that object, and never resized. So it takes
  * the size set here only if the JVM's first code generation runs after
  * a session from [[builder]] exists. A JVM whose sessions are built
  * some other way, or that generates code before the first such session
  * (an encoder or a projection built without a session), keeps Spark's
  * default of 100 entries for its whole life.
  */
object Sessions {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def builder(appName: String): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some
      // testdata generations; read nanos as raw longs so the scan never
      // throws (Tables.events branches on the scanned dtype and repairs
      // to TIMESTAMP). Harmless on micros-typed generations.
      // Session-level so query functions stay pure.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate (collect_list/typed-imperative aggs: the
      // shingle grouping, inverted index, spans lists) falls back to
      // SORT-based aggregation after this many in-memory keys — the
      // 128-key default turns every such agg over real key counts into
      // a full sort of its input. Group state here is small (df-capped
      // lists, span structs), so keys are cheap; 1M keys of ~100-byte
      // state bounds the agg map at ~100 MB per task — sized for the
      // executor memory this harness runs with, and the same tuning a
      // production cluster applies per its own task memory budget.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // Align whole-stage-codegen's fallback threshold with HotSpot's
      // compile limit: the JVM REFUSES to JIT any method over 8000
      // bytecode bytes (-XX:DontCompileHugeMethods, on by default), so
      // a generated method in Spark's default dead zone (8000–65535)
      // runs in the BYTECODE INTERPRETER — measured 3× slower than
      // Spark's own interpreted expression path on the PQ encode
      // stage's 32 literal-centroid dot products (docs/SCALE.md r16:
      // 1.66 s codegen'd-but-uncompilable vs 0.53 s fallen back, same
      // plan). At this limit Spark falls back to interpreted
      // evaluation exactly where the JIT would have bailed anyway;
      // stages whose methods compile are untouched.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // AQE coalesces post-shuffle partitions by BYTES; a CPU-dense
      // but byte-light stage (the tfidf/bm25 family's aggregate
      // chains: ~100-200 ms of per-stage compute over ≪ 1MB of
      // shuffle) lands on ONE task under the 1MB default floor —
      // bm25_topk's profile showed every stage single-task. A 64KB
      // floor keeps such stages spread (interleaved min-of-5:
      // bm25 0.65/0.68 vs 0.70/0.75, pipeline_layout 4.44 vs 4.62,
      // spans/bigram/fluency a wash — no measured regression). At
      // production scale partitions exceed either floor, so this
      // only affects the constants regime.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
      // A file read of more root paths than this threshold (default 32)
      // lists them with a Spark job instead of on the driver. A streaming
      // file source reads each micro-batch as the list of its new files,
      // so a 70-file trigger ran a 70-task `Listing leaf files` job per
      // batch. Resolving a binaryFile read of 70 local paths took
      // 0.6-0.9 s with the job and 50-120 ms on the driver, and of 1000
      // paths (Scans.streamArchive's default trigger) 4.5-5.7 s against
      // 0.15-0.22 s (local[4], 4 vCPUs). Batch queries read fewer than 32
      // root paths, so they list on the driver either way.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
      // Without Hadoop's native library every local file create and
      // directory make forks a `chmod`. NioLocalFileSystem sets the same
      // mode in-process and keeps the .crc checksums. With the next
      // setting, a chat_backfill run (perfbench, seed 2001, 4 vCPUs)
      // started 1,222 OS processes before and 13 after, the rest being
      // Spark's own temp-dir deletes and one-time probes.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      // Streaming checkpoint logs and state-store files go through
      // FileContext by default, whose local rename forks `readlink`s.
      // Through FileSystem, a traced chat_backfill data batch's
      // state-store commit took a median 21 ms instead of 384 ms and its
      // offset-log commit 3 ms instead of 32 ms (seed 902, 4 vCPUs, with
      // the setting above).
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      // Spark keeps generated classes in one JVM-wide LRU cache, 100
      // entries by default. A mixed stream of queries evicts each query's
      // classes before it runs again, so each call recompiles them. One
      // pass over the sf0.01 registry compiles 2,297 distinct classes
      // (graft.Bench, the first runs' codegen_classes summed); 4,000 holds
      // them with room for growth and for a stage compiled under a second
      // codegen stage id, at +21 MB of metaspace after the pass. In
      // perfbench's registry_floor (traced, seed 902, 4 vCPUs) a timed
      // pass compiled 119 classes in 1.76 s before and 0.67 in 0.01 s
      // after; batch_s median 3.42 -> 2.33 s over 20 interleaved pairs
      // (docs/SCALE.md, "The generated-class cache"). Read once per JVM:
      // see the scaladoc above.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // The engine adds no session artifacts, but Spark 4.1's isolation
      // runs every task under a per-session class loader that codegen
      // resolves names through (a miss asks the driver over RPC) and that
      // keys the class cache. Off, perfbench pairs (4 vCPUs): registry_floor
      // setup_s 19.56 -> 18.48 s (6/6), chat_backfill batch_s 11.66 -> 11.01 s (5/6).
      .config("spark.sql.artifact.isolation.enabled", "false")
      // engine extensions: native expressions (graft_dot, …)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
  }

  def get(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerMetricsLogger(spark)
    spark
  }

  /** Drops what one query run leaves in the session, so the next run
    * pays its own full cost: cached relations, persisted RDDs (which
    * cover the localCheckpoint blocks `clearCache` misses, dropped
    * without Spark's per-RDD truncated-lineage WARN) and trained
    * model artifacts — campaign-only while [[Models.Flag]] is off, but a
    * run must never ride an earlier run's training whatever the conf. */
  private[graft] def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(org.apache.spark.rdd.GraftUnpersist(_))
    Models.invalidate(spark)
  }

  /** Per-run surfacing of the engine's `observe(...)` tripwire metrics
    * (`graft_*` observation nodes — candidate-pair volumes in the
    * dedup family): every query execution that evaluates one logs it
    * to stderr, and the ngram invariant `candidate_pairs ≤
    * kept_rows·(DfCap−1)/2` is re-checked with a LOUD warning on
    * violation — the production tripwire for boilerplate-driven
    * candidate explosion that stays inside the df-cap's proven
    * envelope. Observation metrics ride the existing aggregates
    * (CollectMetrics): zero extra jobs, zero extra shuffles. */
  // weak keys: a stopped session must stay collectable — a strong set
  // would pin every session state graph a long-lived JVM ever created
  private val metricsHooked = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  def registerMetricsLogger(spark: SparkSession): Unit =
    if (metricsHooked.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
          val ms = qe.observedMetrics
          // routine per-execution readings go to the logger at INFO
          // (invisible at Spark's default WARN level — a long-running
          // streaming job's per-batch executions would otherwise spray
          // unbounded stderr noise); only the invariant VIOLATION below
          // stays unconditionally loud
          ms.foreach { case (name, row) =>
            if (name.startsWith("graft_") && log.isInfoEnabled)
              log.info(s"[graft-metric] $name = $row")
          }
          // both ngram tripwire metrics ride ONE query execution (the
          // observe nodes share a plan), so the invariant check is
          // stateless — no cross-execution coupling to race
          for (kept <- ms.get("graft_ngram_kept"); pairs <- ms.get("graft_ngram_pairs")) {
            val k = kept.getLong(0)
            val p = pairs.getLong(0)
            val bound = k * (graft.operators.Dedup.DfCap - 1L) / 2L
            if (p > bound)
              System.err.println(
                s"[graft-metric] WARNING ngram candidate volume $p exceeds " +
                  s"df-cap envelope $bound (kept=$k) — boilerplate explosion?")
          }
        }
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    }
}
