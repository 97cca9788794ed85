package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One shared local session for all Spark-backed specs (saves ~6 s of
  * startup per suite; sbt forks one JVM for the whole test run).
  *
  * Every suite takes its session from here, and no suite generates code
  * before it, so the JVM's codegen cache takes `Sessions.builder`'s size
  * (see [[Sessions]]). Code that generated code before this session
  * existed would leave the cache at Spark's default for the whole run,
  * and `CodegenCacheSpec` would fail. Specs count the jobs, stages and
  * generated classes a body runs through [[Measure]], as the benches do. */
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

  /** Runs a registry sweep's `check` on every registered query, in name
    * order, and returns the offender lines. A query that throws becomes
    * the offender `name: <exception class>: <message>`, so one query that
    * cannot run does not hide the checks on the rest.
    *
    * After each query the session is isolated ([[Sessions.isolate]]):
    * the BLANKET clearCache + unpersist-all, deliberately. Suites and the
    * tests within them run sequentially in the forked test JVM, so
    * nothing concurrent can lose its cache mid-use (Tables.stage
    * re-persists on next access by design). Unpersisting only the RDD
    * ids a query added is WORSE: a force-unpersisted RDD leaves its
    * CacheManager entry registered, so a later identical plan is served
    * an entry that recomputes on every read and never re-caches, and
    * persists registered but not yet materialized are invisible to an
    * id diff. clearCache() drops the ENTRIES, the state that must not
    * leak. */
  def sweepRegistry(check: (String, graft.operators.Q) => Seq[String]): Seq[String] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try check(name, fn)
      catch { case scala.util.control.NonFatal(e) => Seq(s"$name: ${e.getClass.getName}: ${e.getMessage}") }
      finally Sessions.isolate(spark)
    }

  /** The messages of the WARN events that the logger named `logger`, or
    * a logger named after a subclass of the class `logger` names, emits
    * while `body` runs, seen through a log4j2 appender on the root logger
    * (logging is synchronous, so every event has arrived when `body`
    * returns). Spark names each logger after the runtime class, so a base
    * class's own name alone would hear none of its subclasses' WARNs. */
  def warnings[T](logger: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    spark // Spark configures logging on start-up; attach after it
    val base = scala.util.Try(Class.forName(logger)).toOption
    def heard(name: String): Boolean = name == logger || base.exists(b =>
      scala.util.Try(b.isAssignableFrom(Class.forName(name, false, b.getClassLoader)))
        .getOrElse(false))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(s"warnings ${java.util.UUID.randomUUID()}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN && heard(e.getLoggerName))
          seen.add(e.getMessage.getFormattedMessage)
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    app.start()
    root.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try (body, seen.asScala.toSeq)
    finally {
      root.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
  }
}
