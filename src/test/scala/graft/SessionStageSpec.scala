package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session-stage contract ([[Tables.stage]]): one build per
  * (session, name), shared across consumers, resilient to harness
  * cache eviction — the in-session model of a campaign's materialized
  * stage tables. */
class SessionStageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  test("table readers are memoized per (session, path)") {
    // the memo returns one reader relation per table per session (the
    // catalog-table model — see Tables.table scaladoc)
    val a = Tables.table(spark, Dir, "documents")
    val b = Tables.table(spark, Dir, "documents")
    assert(a eq b, "same (session, path) must reuse one reader relation")
    val other = Tables.table(spark, "/root/testdata/sf0.1", "documents")
    assert(!(other eq a), "different dirs must not share a reader")
    assert(a.count() == 500 && other.count() == 5000) // and they read the right files
  }

  test("a table read after invalidate runs no job") {
    Tables.invalidate(spark)
    val (_, run) = Measure(spark)(Tables.table(spark, Dir, "orders"))
    assert(run.jobs.isEmpty, s"a cold table read ran ${run.jobs.size} job(s)")
  }

  test("stage builds once per session and returns the same relation") {
    val builds = new AtomicInteger(0)
    def build = {
      builds.incrementAndGet()
      Tables.documents(spark, Dir).select("doc_id")
    }
    val a = Tables.stage(spark, "spec:once")(build)
    val b = Tables.stage(spark, "spec:once")(build)
    assert(builds.get() == 1, "second access must not rebuild")
    assert(a eq b, "both consumers must share one DataFrame")
    assert(a.storageLevel != StorageLevel.NONE, "stage must be persisted")
  }

  test("harness cache eviction re-persists on next access") {
    val df = Tables.stage(spark, "spec:evict")(
      Tables.documents(spark, Dir).select("doc_id", "lang"))
    assert(df.count() > 0)
    spark.catalog.clearCache() // what Bench/Verify do between queries
    assert(df.storageLevel == StorageLevel.NONE)
    val again = Tables.stage(spark, "spec:evict")(
      fail("evicted stage must re-persist, not rebuild"))
    assert(again.storageLevel != StorageLevel.NONE)
    assert(again.count() > 0)
  }

  test("invalidate drops this session's readers and stages; next access rebuilds") {
    val builds = new AtomicInteger(0)
    def build = {
      builds.incrementAndGet()
      Tables.documents(spark, Dir).select("doc_id")
    }
    val r1 = Tables.table(spark, Dir, "nation")
    val s1 = Tables.stage(spark, "spec:inval")(build)
    assert(s1.count() > 0 && builds.get() == 1)
    Tables.invalidate(spark)
    assert(s1.storageLevel == StorageLevel.NONE,
      "invalidate must unpersist the dropped stage's data")
    val r2 = Tables.table(spark, Dir, "nation")
    assert(!(r2 eq r1), "invalidated reader memo must re-derive the relation")
    val s2 = Tables.stage(spark, "spec:inval")(build)
    assert(builds.get() == 2, "invalidated stage must rebuild, not reuse")
    assert(!(s2 eq s1) && s2.count() > 0)
  }

  test("model artifacts: pass-through with the flag off, one training with it on") {
    val trains = new AtomicInteger(0)
    def train: java.lang.Long = { trains.incrementAndGet(); 42L }
    // default (flag off): every call trains — the per-query bench
    // semantics need zero hidden cross-run state
    assert(!Models.enabled(spark))
    Models.artifact(spark, "spec:model")(train)
    Models.artifact(spark, "spec:model")(train)
    assert(trains.get() == 2, "flag off must be a transparent pass-through")
    try {
      spark.conf.set(Models.Flag, "true")
      assert(Models.artifact(spark, "spec:model")(train) == 42L)
      Models.artifact(spark, "spec:model")(train)
      assert(trains.get() == 3, "flag on must train once per session")
      Models.invalidate(spark)
      Models.artifact(spark, "spec:model")(train)
      assert(trains.get() == 4, "invalidate must force retraining")
    } finally {
      spark.conf.unset(Models.Flag)
      Models.invalidate(spark)
    }
  }

  test("stageIf: inline plan with the flag off, staged relation with it on") {
    val base = Tables.documents(spark, Dir).select("doc_id")
    val off = Tables.stageIf(spark, "spec:stageif")(base)
    assert(off eq base, "flag off must return the build unchanged (no persist)")
    try {
      spark.conf.set(Models.Flag, "true")
      // persist() returns the same instance, so identity can't
      // distinguish — the storage level is the contract
      val on = Tables.stageIf(spark, "spec:stageif")(base)
      assert(on.storageLevel != StorageLevel.NONE,
        "flag on must stage (persist) the relation")
    } finally {
      spark.conf.unset(Models.Flag)
      Tables.invalidate(spark)
    }
  }

  test("campaign flag does not change results: bigram + pq families are bit-equal") {
    def collectAll(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, Dir).collect().map(_.toString).toSeq
    val names = Seq("bigram_lm_score", "fluency_buckets", "doremi_weights",
      "dsir_select", "pq_adc_topk", "pq_recall_report")
    val solo = names.map(n => n -> collectAll(n)).toMap
    try {
      spark.conf.set(Models.Flag, "true")
      // campaign epoch: run the family twice so later consumers ride
      // the staged relation / trained artifact, and compare both passes
      for (_ <- 1 to 2; n <- names)
        assert(collectAll(n) == solo(n), s"$n diverged under the campaign flag")
      assert(Models.artifactCount(spark) > 0,
        "the PQ family must have registered its trained codebooks")
    } finally {
      spark.conf.unset(Models.Flag)
      Models.invalidate(spark)
      Tables.invalidate(spark)
      spark.catalog.clearCache()
    }
  }

  test("minhash family shares the staged signature relation across queries") {
    // prime the stage through one consumer, then every sibling's
    // ANALYZED plan must read the SAME cached relation (InMemoryRelation
    // in the executed plan) rather than re-deriving the shingle chain
    spark.catalog.clearCache()
    SparkEntry.queries("minhash_lsh_candidates")(spark, Dir)
      .write.format("noop").mode("overwrite").save()
    val plan = SparkEntry.queries("minhash_jaccard_estimate")(spark, Dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"jaccard estimate must consume the staged signature relation:\n${plan.take(2000)}")
    // near_dup_cluster consumes the stage during CONSTRUCTION (its CC
    // loop checkpoints eagerly, so the returned plan is a post-cut RDD
    // scan) — assert key reuse instead: the staged relation must
    // already exist under the family key, not be rebuilt
    SparkEntry.queries("near_dup_cluster")(spark, Dir).count()
    val staged = Tables.stage(spark, s"minhash_sig:$Dir")(
      fail("near_dup_cluster must reuse the staged signature, not rebuild it"))
    assert(staged.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    val n = SparkEntry.queries("minhash_jaccard_estimate")(spark, Dir).count()
    assert(n > 0)
  }

  test("isolate drops locally checkpointed blocks without a WARN per RDD") {
    Sessions.isolate(spark)
    spark.range(100).toDF("x").localCheckpoint()
    val rdds = spark.sparkContext.getPersistentRDDs.values.toSeq
    assert(rdds.size == 1 && rdds.head.isCheckpointed)
    // Spark logs the WARN under the RDD's runtime class (MapPartitionsRDD)
    val (_, warns) = TestSpark.warnings(rdds.head.getClass.getName)(Sessions.isolate(spark))
    assert(warns.isEmpty, s"isolate logged: $warns")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
