package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the harness testdata tables (see /root/repo/TESTDATA.md).
  *
  * All queries in [[SparkEntry.queries]] read through here so that the
  * one genuinely non-portable detail — `events.ts` being parquet
  * TIMESTAMP(NANOS), which Spark's reader rejects outright — is handled
  * in exactly one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized per (session, path): the testdata is immutable, so one
    * reader relation (one file listing, one footer read) serves every
    * query of a session, like a catalog table's; an immutable plan, safe
    * to share. Soft-valued like [[stage]] (see the stageTables comment). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(readers, spark, s"$dir/$name")(parquet(spark, s"$dir/$name.parquet"))

  /** The engine's reader of a local parquet file or directory: without
    * [[parquetSchema]], `spark.read.parquet` infers one with a Spark job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers, from the footer of the
    * file or the directory's first data file, read on the driver: Spark's
    * row metadata if present, else Spark's own conversion of the parquet
    * schema under the session's SQL conf (`nanosAsLong`, TIMESTAMP_NTZ). */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = Paths.get(path)
    val file = if (Files.isDirectory(p)) dataFiles(p).minBy(_.getFileName.toString) else p
    footerSchema(spark, file, footer(spark.sessionState.newHadoopConf(), file))
  }

  /** The schema [[parquetSchema]] reads from `file`, given its footer. */
  def footerSchema(spark: SparkSession, file: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(hadoopPath(file), footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** The footer of `file`; the one-argument open parses a new Hadoop conf. */
  def footer(conf: Configuration, file: Path): ParquetMetadata =
    Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(hadoopPath(file), conf),
      HadoopReadOptions.builder(conf).build()))(_.getFooter)

  /** The data files of a parquet directory: names Spark does not hide. */
  def dataFiles(dir: Path): Seq[Path] = Using.resource(Files.list(dir))(_.iterator().asScala
    .filterNot(f => Seq("_", ".").exists(f.getFileName.toString.startsWith)).toSeq)

  private def hadoopPath(file: Path) = new org.apache.hadoop.fs.Path(file.toUri)

  /** `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) (which
    * Spark's reader rejects outright unless nanos are read as raw
    * longs) and plain `timestamp[us]` with isAdjustedToUTC=false (which
    * Spark reads as TIMESTAMP_NTZ). Branch on the SCANNED dtype so the
    * reader survives either generation of the harness testdata:
    *
    *   - LongType       → nanos-as-long file; truncate to micros, which
    *                      matches DuckDB's `CAST(ts AS TIMESTAMP)`
    *                      truncation — keeping the oracle comparable.
    *   - TimestampNTZ   → micros file; session TZ is UTC (Sessions sets
    *                      it), so casting to TIMESTAMP is
    *                      value-preserving and oracle-identical.
    *   - TimestampType  → already what every query expects; as-is.
    *
    * The nanos path requires `spark.sql.legacy.parquet.nanosAsLong=true`
    * at session construction (set by [[Sessions.builder]]) — harmless on
    * micros files, kept out of here so query functions stay pure.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Round-robin fan-out for CPU-heavy row-local passes, applied ONLY
    * in the small-file regime: a scan under `maxPartitionBytes` yields
    * fewer partitions than cores, so a chain of per-row string/regex
    * work runs effectively serial no matter how wide the cluster — the
    * exact inverse of the production regime, where a 100 TB scan has
    * ~10⁶ partitions and parallelism is free. The rebalance is priced
    * at the scan size, which is by definition small when the condition
    * fires; when the scan already has ≥ cores partitions this is an
    * exact no-op (no shuffle added at scale).
    *
    * The partition probe reads the NON-adaptive physical plan and
    * bails out (identity) when that plan contains an Exchange: under
    * AQE, `toRdd` on an exchange-bearing plan would MATERIALIZE its
    * shuffle stages at DataFrame-construction time — real jobs before
    * any action — and a post-shuffle relation's parallelism is AQE's
    * to own anyway. For the exchange-free scans this helper is for,
    * building the plan's RDD is lazy metadata: no job. */
  def fanout(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.sparkPlan
    val hasExchange = plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    // the partition probe below calls execute() on the UNPREPARED plan:
    // fine for the plain scans this helper exists for, but a plan with
    // subquery expressions would eagerly run the subquery jobs at
    // DataFrame-construction time — bail to identity for those too
    val hasSubquery = plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
    if (!hasExchange && !hasSubquery && plan.execute().getNumPartitions < par)
      df.repartition(par)
    else df
  }

  /** Float-math parity: DuckDB's list_cosine_similarity computes in
    * float32 when fed list<float>; both engines are pinned to double by
    * casting the embedding once here.
    */
  def embeddingsD(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))

  // ---------------------------------------------------------------------
  // session-scoped stage tables
  // ---------------------------------------------------------------------

  // Weak keys alone would be a lie here: a DataFrame value strongly
  // references its SparkSession, and a value→key strong path defeats
  // WeakHashMap eviction (unlike Sessions.metricsHooked, whose value is
  // a Boolean). Values are therefore SoftReferences — the only path
  // keeping a stopped session reachable is soft, so the JVM clears it
  // under memory pressure (guaranteed before OutOfMemoryError) and the
  // weak key then evicts: the map can never hold a dead session's
  // stage tables to OOM. While memory is healthy, soft refs survive,
  // so same-session reuse stays deterministic; if one IS cleared, the
  // rebuild's persist() lands on the same canonicalized plan and the
  // CacheManager reuses the already-materialized data — compute-once
  // survives the reference clearing.
  private type Registry =
    java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, java.lang.ref.SoftReference[DataFrame]]]

  private val stageTables: Registry = new Registry()

  /** Memoized raw readers — no persist, just the reusable relation. */
  private val readers: Registry = new Registry()

  /** One build per (session, key), soft-held; see stageTables comment. */
  private def memo(reg: Registry, spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    val perSession = reg.synchronized {
      var m = reg.get(spark)
      if (m == null) { m = scala.collection.mutable.Map.empty; reg.put(spark, m) }
      m
    }
    perSession.synchronized {
      perSession.get(key).flatMap(r => Option(r.get)).getOrElse {
        val built = build
        perSession(key) = new java.lang.ref.SoftReference(built)
        built
      }
    }
  }

  /** Session-scoped named stage table: the FIRST `stage(spark, name)`
    * call builds and persists the relation; every later call in the
    * same session returns the same cached DataFrame, so a campaign's
    * shared intermediates (the MinHash signature relation, a gram
    * table) are computed once per session however many queries consume
    * them — the multi-query operating mode the per-query registry
    * otherwise hides. This is the in-session model of the 100 TB
    * pattern (docs/SCALE.md): a campaign materializes its signature /
    * gram stage tables to reliable storage once, and every downstream
    * query reads the stage instead of re-deriving the corpus pass.
    *
    * If a harness evicted the cache between queries
    * ([[Sessions.isolate]] — every harness main does), the
    * relation is RE-persisted on next access: consumers always read one
    * materialization per post-eviction epoch, and a bench run that
    * wiped storage honestly re-pays the build it wiped.
    *
    * `name` must fully key the relation's DEFINITION (include the data
    * dir and any variant parameters): the registry returns whatever was
    * first staged under the name, so an under-keyed name silently
    * serves one consumer another consumer's relation.
    */
  def stage(spark: SparkSession, name: String)(build: => DataFrame): DataFrame = {
    val df = memo(stageTables, spark, name)(build.persist())
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist()
    df
  }

  /** [[stage]] gated on the campaign flag ([[Models.Flag]]): relations
    * whose SOLO plan measured faster UNSTAGED (the bigram-fluency
    * crossover — concurrent AQE subtrees beat serializing behind one
    * materialization, docs/SCALE.md r15) stage only when a campaign
    * session opts in, so the per-query bench numbers keep the
    * measured-best solo plan and a multi-query campaign still computes
    * the shared relation once. Flag off → `build` returned as-is. */
  def stageIf(spark: SparkSession, name: String)(build: => DataFrame): DataFrame =
    if (Models.enabled(spark)) stage(spark, name)(build) else build

  /** Recovery seam for long-lived ad-hoc sessions: drop this session's
    * memoized readers and stage tables so the next access re-lists the
    * file, re-reads its footer and re-builds stages. The memo serves STALE file
    * listings if the underlying parquet is replaced while a session is
    * alive (the harness testdata contract says it never is, but nothing
    * enforces that for arbitrary callers); this is the documented way
    * out short of a session restart. Staged relations are unpersisted
    * so the CacheManager doesn't keep serving the old data under the
    * same canonicalized plan. */
  private[graft] def invalidate(spark: SparkSession): Unit = {
    // lock discipline mirrors memo(): the registry lock only guards the
    // outer map lookup; the per-session map is read/written under ITS
    // monitor, so iteration+clear here must hold the same one or race
    // a concurrent memo() insert (ConcurrentModificationException, or
    // an entry wiped while its DataFrame stays persisted)
    val stages = stageTables.synchronized { Option(stageTables.get(spark)) }
    stages.foreach { m =>
      m.synchronized {
        m.valuesIterator.flatMap(r => Option(r.get)).foreach { df =>
          try df.unpersist()
          catch { case scala.util.control.NonFatal(_) => () }
        }
        m.clear()
      }
    }
    val rdrs = readers.synchronized { Option(readers.get(spark)) }
    rdrs.foreach(m => m.synchronized(m.clear()))
  }
}
