package graft.operators

import java.nio.file.{Files, Path}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The lineage cuts' cluster-durability knob: with
  * `spark.graft.reliableCheckpoints=true` (+ a checkpoint dir) every
  * lineage cut ([[Dedup.cut]]) goes through reliable `checkpoint()` —
  * replayable from distributed storage after executor loss — and the
  * rows must be identical to the default localCheckpoint mode
  * (durability is purely an execution-layer choice). One query per cut
  * site: each checks that every cut relation left in its plan is a
  * reliable checkpoint, so a site that fell back to `localCheckpoint()`
  * fails here even when a sibling cut (CC's) did write files. */
class CheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  /** Runs `q` in local mode, then in reliable mode against a fresh
    * checkpoint dir; returns that dir. */
  private def reliableMatchesLocal(q: String): Path = {
    val local = SparkEntry.queries(q)(spark, Dir).collect().toSeq
    val ckptDir = Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    spark.conf.set("spark.graft.reliableCheckpoints", "true")
    try {
      val df = SparkEntry.queries(q)(spark, Dir)
      assert(df.collect().toSeq == local,
        s"$q: rows must be identical under reliable checkpointing")
      val cuts = df.queryExecution.logical.collectWithSubqueries {
        case r: LogicalRDD => r.rdd
      }.distinct
      assert(cuts.nonEmpty, s"$q: expected a lineage cut in the plan")
      val fellBack = cuts.filter(_.getCheckpointFile.isEmpty)
      assert(fellBack.isEmpty,
        s"$q: ${fellBack.size} of ${cuts.size} cuts fell back to localCheckpoint")
      ckptDir
    } finally {
      spark.conf.set("spark.graft.reliableCheckpoints", "false")
    }
  }

  test("reliable-checkpoint mode writes to the checkpoint dir and matches local mode") {
    val ckptDir = reliableMatchesLocal("near_dup_cluster")
    val written = Files.walk(ckptDir).filter(Files.isRegularFile(_)).count()
    assert(written > 0, s"expected checkpoint files under $ckptDir")
  }

  for (q <- Seq("ngram_jaccard_pairs", "dup_graph_pagerank", "dup_triangle_audit",
      "lsh_vs_exact_recall", "pipeline_layout"))
    test(s"reliable-checkpoint mode: every $q cut is reliable and rows match local mode") {
      reliableMatchesLocal(q)
    }
}
