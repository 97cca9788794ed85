package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.{SparkEntry, TestSpark}
import graft.operators.Pipeline

/** The streaming twin of `incremental_pipeline` must implement the
  * reference's continuous upsert-or-skip contract (db/chat.py:13-26):
  * per micro-batch of crawl results, changed/added docs flow through
  * the SAME delta stages as the batch query, unchanged docs produce
  * nothing, removals retire — and replaying the whole recrawl through
  * the stream reproduces the batch query's output exactly. */
class IncrementalStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private def freshStatePath(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-incr-$tag")
    java.nio.file.Files.delete(p) // the store creates it on first write
    p.toString
  }

  /** Seed the hash state with the pre-recrawl corpus — the stored
    * snapshot a long-running scraper would have accumulated. */
  private def seedState(path: String): Unit = {
    val st = graft.Tables.documents(spark, Dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    MergeSink.writeSnapshot(st, path)
  }

  /** The full recrawl as crawl results: every doc in the new snapshot
    * (including unchanged ones — a crawler fetches everything it still
    * sees), plus removal markers for the vanished ids. */
  private def crawlResults(): (Seq[Recrawl], Seq[Recrawl]) = {
    val newSnap = Pipeline.recrawlSnapshot(spark, Dir)
    val fetches = newSnap.collect().map(r => Recrawl(r.getLong(0), r.getString(1), removed = false))
    val removedIds = graft.Tables.documents(spark, Dir).select("doc_id")
      .join(newSnap.select("doc_id"), Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0))
    (fetches.toSeq, removedIds.toSeq.map(id => Recrawl(id, null, removed = true)))
  }

  private def rowKey(r: Row): (Long, String, Long, Long, Long) =
    (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))

  test("replaying the recrawl through micro-batches reproduces the batch delta exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val statePath = freshStatePath("parity")
    seedState(statePath)
    val (fetches, removals) = crawlResults()
    // 3 batches split by doc_id, removals riding with the last batch —
    // batches partition the doc space, so outputs never overlap
    val batches = Seq(
      fetches.filter(_.doc_id % 3 == 0),
      fetches.filter(_.doc_id % 3 == 1),
      fetches.filter(_.doc_id % 3 == 2) ++ removals)
    val in = MemoryStream[Recrawl]
    val outs = scala.collection.mutable.ArrayBuffer.empty[Array[Row]]
    val q = IncrementalStream.start(in.toDS(), statePath, "incr-parity") {
      (delta, _) => outs.synchronized { outs += delta.collect() }
    }
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = outs.flatten.map(rowKey).toSet
    val batch = SparkEntry.queries("incremental_pipeline")(spark, Dir)
      .collect().map(rowKey).toSet
    assert(streamed == batch,
      s"stream/batch mismatch: only-stream=${(streamed -- batch).take(5)} " +
        s"only-batch=${(batch -- streamed).take(5)}")
  }

  test("upsert-or-skip: an unchanged fetch emits nothing and leaves state untouched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val statePath = freshStatePath("skip")
    seedState(statePath)
    val before = IncrementalStream.readState(spark, statePath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // fetch docs whose text did not change (doc_id % 4 != 0 edits,
    // % 10 != 0 re-keys, % 7 != 0 removals — pick survivors)
    val unchanged = graft.Tables.documents(spark, Dir)
      .filter("doc_id % 4 <> 0 AND doc_id % 10 <> 0 AND doc_id % 7 <> 0")
      .select("doc_id", "text").limit(20)
      .collect().map(r => Recrawl(r.getLong(0), r.getString(1), removed = false))
    assert(unchanged.nonEmpty)
    val in = MemoryStream[Recrawl]
    var emitted = 0L
    val q = IncrementalStream.start(in.toDS(), statePath, "incr-skip") {
      (delta, _) => emitted += delta.count()
    }
    try { in.addData(unchanged.toSeq); q.processAllAvailable() } finally q.stop()
    assert(emitted == 0, "unchanged fetches must be skipped")
    val after = IncrementalStream.readState(spark, statePath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "state must be untouched by skipped fetches")
  }

  test("retire semantics: a removal retires a stored doc once; unknown ids are ignored") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val statePath = freshStatePath("retire")
    seedState(statePath)
    val someId = graft.Tables.documents(spark, Dir)
      .select("doc_id").orderBy("doc_id").first().getLong(0)
    val in = MemoryStream[Recrawl]
    val outs = scala.collection.mutable.ArrayBuffer.empty[Array[Row]]
    val q = IncrementalStream.start(in.toDS(), statePath, "incr-retire") {
      (delta, _) => outs.synchronized { outs += delta.collect() }
    }
    try {
      in.addData(Recrawl(someId, null, removed = true),
        Recrawl(999999999L, null, removed = true)) // unknown id
      q.processAllAvailable()
      in.addData(Recrawl(someId, null, removed = true)) // replayed removal
      q.processAllAvailable()
    } finally q.stop()
    assert(outs.length == 2)
    val first = outs(0)
    assert(first.length == 1 && first.head.getLong(0) == someId &&
      first.head.getString(1) == "retired" && first.head.getLong(2) == 0L)
    assert(outs(1).isEmpty, "a replayed removal must be a no-op (idempotent retire)")
    val stateIds = IncrementalStream.readState(spark, statePath)
      .collect().map(_.getLong(0)).toSet
    assert(!stateIds.contains(someId), "retired doc must leave the hash state")
  }

  test("commit order: a sink failure leaves state unadvanced; the retry re-delivers") {
    import spark.implicits._
    val statePath = freshStatePath("commit")
    seedState(statePath)
    val before = IncrementalStream.readState(spark, statePath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val someId = graft.Tables.documents(spark, Dir)
      .select("doc_id").orderBy("doc_id").first().getLong(0)
    val batch = Seq(Recrawl(someId, "fresh text for the commit order test", removed = false)).toDF()
    // 1st attempt: the sink throws AFTER seeing the delta. The throw must
    // propagate (so Structured Streaming would fail+replay the batch) and
    // the hash state must NOT have advanced — the reverse order would
    // hash-skip the replay and silently drop the delta (at-most-once).
    val boom = intercept[RuntimeException] {
      IncrementalStream.processBatch(batch, statePath, 0L) { (delta, _) =>
        assert(delta.count() == 1, "the delta must be computed before the sink runs")
        throw new RuntimeException("sink down")
      }
    }
    assert(boom.getMessage == "sink down")
    val afterFail = IncrementalStream.readState(spark, statePath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterFail == before, "a failed sink must leave the hash state unadvanced")
    // replay of the same batch: delta re-delivered, THEN state advances
    var delivered = Array.empty[Row]
    IncrementalStream.processBatch(batch, statePath, 0L) { (delta, _) =>
      delivered = delta.collect()
    }
    assert(delivered.map(_.getLong(0)).toSeq == Seq(someId),
      "the replay must re-deliver the undelivered delta")
    assert(delivered.head.getString(1) == "changed")
    val afterOk = IncrementalStream.readState(spark, statePath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterOk != before, "a delivered batch must advance the state")
    // and a second replay now hash-skips: the upsert is idempotent
    var replayed = 0L
    IncrementalStream.processBatch(batch, statePath, 1L) { (delta, _) =>
      replayed = delta.count()
    }
    assert(replayed == 0, "a post-commit duplicate delivery must hash-skip")
  }

  test("end-to-end replay: a sink failure fails the query; restart from checkpoint re-delivers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val statePath = freshStatePath("sreplay")
    seedState(statePath)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-incr-ckpt").toString
    val someId = graft.Tables.documents(spark, Dir)
      .select("doc_id").orderBy("doc_id").first().getLong(0)
    val in = MemoryStream[Recrawl]
    // ≥6 distinct tokens: shorter texts trip the Gopher top-term gate
    // (1/4 = 0.25 > 0.20) and the delta row is legitimately dropped
    in.addData(Recrawl(someId, "fresh replay text with many distinct tokens here", removed = false))
    @volatile var failOnce = true
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sink(delta: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val rows = delta.collect()
      if (failOnce) { failOnce = false; throw new RuntimeException("sink down") }
      delivered.synchronized { delivered ++= rows.map(_.getLong(0)) }
    }
    // attempt 1: the sink throw must surface as a failed QUERY (no
    // swallow-and-commit), leaving the offset log uncommitted
    val q1 = IncrementalStream.start(in.toDS(), statePath, "incr-sreplay-1", Some(ckpt))(sink)
    val failed = intercept[Exception] { q1.processAllAvailable() }
    assert(failed.getMessage.contains("sink down") ||
      Option(failed.getCause).exists(_.getMessage.contains("sink down")))
    q1.stop()
    assert(delivered.isEmpty)
    // attempt 2: restart from the same checkpoint — Structured
    // Streaming replays the uncommitted batch against the unadvanced
    // state and the delta reaches the sink exactly once
    val q2 = IncrementalStream.start(in.toDS(), statePath, "incr-sreplay-2", Some(ckpt))(sink)
    try q2.processAllAvailable() finally q2.stop()
    assert(delivered.toSeq == Seq(someId),
      s"replayed batch must deliver the delta exactly once, got $delivered")
  }

  test("a one-doc batch rewrites only the state file that holds the doc") {
    import spark.implicits._
    val statePath = freshStatePath("touched")
    MergeSink.writeSnapshot(graft.Tables.documents(spark, Dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .repartitionByRange(4, col("doc_id")), statePath)
    val dir = Paths.get(statePath)
    val before = {
      val listing = Files.list(dir)
      try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally listing.close()
    }
    assert(before.size == 4)
    // hold each file by a link of our own, so its inode outlives the swap
    val held = Files.createTempDirectory("graft-incr-held")
    before.foreach(f => Files.createLink(held.resolve(f), dir.resolve(f)))
    val someId = graft.Tables.documents(spark, Dir)
      .select("doc_id").orderBy("doc_id").first().getLong(0)
    val holder = IncrementalStream.readState(spark, statePath).filter(col("doc_id") === someId)
      .select("_metadata.file_name").first().getString(0)
    val text = "fresh text for the touched-file test"
    IncrementalStream.processBatch(Seq(Recrawl(someId, text, removed = false)).toDF(), statePath,
      0L)((_, _) => ())
    before.filterNot(_ == holder).foreach { f =>
      assert(Files.exists(dir.resolve(f)) && Files.isSameFile(dir.resolve(f), held.resolve(f)),
        s"untouched state file $f was not carried as the same inode")
    }
    assert(!Files.exists(dir.resolve(holder)), s"touched state file $holder kept")
    val state = IncrementalStream.readState(spark, statePath)
    assert(state.count() == graft.Tables.documents(spark, Dir).count())
    val digest = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
    assert(state.filter(col("doc_id") === someId).select("h").as[String].collect().toSeq ==
      Seq(digest.map("%02x".format(_)).mkString))
  }

  /** The parquet scans of `dir` that running `plan` takes: the plan of a
    * cached relation counts once, however many nodes read the relation. */
  private def scans(plan: SparkPlan, dir: String,
      built: java.util.Set[AnyRef] = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])): Int =
    Plans.collect(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
        _.toUri.getPath.startsWith(dir)) => 1
      case m: InMemoryTableScanExec if built.add(m.relation.cacheBuilder) =>
        scans(m.relation.cacheBuilder.cachedPlan, dir, built)
    }.sum
  private object Plans extends AdaptiveSparkPlanHelper

  test("a batch runs no schema-inference job and its delta scans the state once") {
    import spark.implicits._
    val statePath = freshStatePath("once")
    MergeSink.writeSnapshot(graft.Tables.documents(spark, Dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .repartitionByRange(4, col("doc_id")), statePath)
    val Seq(changed, retired, unchanged) = graft.Tables.documents(spark, Dir)
      .select("doc_id", "text").orderBy("doc_id").limit(3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val added = 999999L
    val batch = Seq(
      Recrawl(added, "an added doc with many distinct tokens in its text", removed = false),
      Recrawl(changed._1, "a changed doc with many distinct tokens in its text", removed = false),
      Recrawl(retired._1, null, removed = true),
      Recrawl(unchanged._1, unchanged._2, removed = false)).toDF()
    var stateScans = -1
    var statuses = Map.empty[Long, String]
    val (_, run) = graft.Measure(spark)(IncrementalStream.processBatch(batch, statePath, 0L) {
      (delta, _) =>
        stateScans = scans(delta.queryExecution.executedPlan, statePath)
        statuses = delta.select("doc_id", "status").as[(Long, String)].collect().toMap
    })
    info(s"${run.jobs.size} jobs; the delta's plan scans the state $stateScans time(s)")
    assert(statuses == Map(added -> "added", changed._1 -> "changed", retired._1 -> "retired"))
    val inference = run.stages.filter(_.name == "parallelize > mapPartitions")
    assert(inference.isEmpty, s"${inference.size} schema-inference stage(s) ran")
    assert(stateScans == 1, s"the delta's plan scans the state $stateScans times")
  }

  test("junk-gated docs update the hash state but emit no survivor row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val statePath = freshStatePath("junk")
    seedState(statePath)
    // a changed doc the repetition gate will drop: doc_id % 40 == 4
    // (JunkMod injection) and not removed/re-keyed by the crawl rules
    val junkId = graft.Tables.documents(spark, Dir)
      .filter("doc_id % 40 = 4 AND doc_id % 7 <> 0")
      .select("doc_id").orderBy("doc_id").first().getLong(0)
    val in = MemoryStream[Recrawl]
    val outs = scala.collection.mutable.ArrayBuffer.empty[Array[Row]]
    val q = IncrementalStream.start(in.toDS(), statePath, "incr-junk") {
      (delta, _) => outs.synchronized { outs += delta.collect() }
    }
    try {
      in.addData(Recrawl(junkId, "edited junk content now differs", removed = false))
      q.processAllAvailable()
      // replay the same fetch: hash state advanced, so this now skips
      in.addData(Recrawl(junkId, "edited junk content now differs", removed = false))
      q.processAllAvailable()
    } finally q.stop()
    assert(outs(0).isEmpty, "gated doc must not reach the output")
    assert(outs(1).isEmpty, "second fetch must hash-skip (state advanced despite the gate)")
  }
}
