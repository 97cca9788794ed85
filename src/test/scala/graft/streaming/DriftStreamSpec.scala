package graft.streaming

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The frozen-reference drift monitor must reproduce the batch report
  * exactly when the stream replays the training corpus source-by-source
  * (a source's TV depends only on that source's tokens and the frozen
  * model), and must hit the maximum-distance endpoint for a source
  * whose vocabulary the reference has never seen — the left-join/
  * zero-mass path the batch report never exercises. */
class DriftStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"
  private val Scale = 1000000L

  private def key(r: Row): (String, Long, Long) =
    (r.getString(0), r.getLong(1), r.getLong(2))

  test("replaying the corpus source-whole through micro-batches equals the batch report") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, Dir)
      .select("doc_id", "source", "text").collect()
      .map(r => SourcedDoc(r.getLong(0), r.getString(1), r.getString(2)))
    // batches split BY SOURCE (each source arrives whole): TV is a
    // per-source statistic, so this is the partition under which the
    // streamed union must equal the batch report bit-for-bit
    val srcs = docs.map(_.source).distinct.sorted
    val batchOf = srcs.zipWithIndex.toMap
    val batches = (0 until 3).map(i =>
      docs.filter(d => batchOf(d.source) % 3 == i).toSeq)
    val outs = StreamDriver.collect(batches)(DriftStream.start(_, Dir, "drift-parity"))
    val streamed = outs.flatten.map(key).toSet
    val batch = SparkEntry.queries("source_unigram_drift")(spark, Dir)
      .collect().map(key).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} vs " +
        s"${(batch diff streamed).take(3)}")
    // sources partition across batches: no source reported twice
    val reported = outs.flatten.map(_.getString(0))
    assert(reported.distinct.length == reported.length,
      "a source was reported in two batches")
  }

  test("a fully-novel source scores the exact maximum distance") {
    import spark.implicits._
    // reference mass total, recomputed the model's own way
    val tokens = graft.Tables.documents(spark, Dir)
      .selectExpr("explode(split(text, ' ')) AS term").collect()
      .map(_.getString(0))
    val n = tokens.length.toLong
    val pTotal = tokens.groupBy(identity).values
      .map(g => g.size.toLong * Scale / n).sum
    // four equal-count unseen terms: every p_st = 250000 exactly, so
    // d_present = 10^6 with zero floor loss and pt_present = 0 —
    // tv = (10^6 + P_total) / 2, exactly
    val outs = StreamDriver.collect(Seq(Seq(SourcedDoc(1L, "novel", "zzq1 zzq2 zzq3 zzq4"))))(
      DriftStream.start(_, Dir, "drift-novel"))
    val rows = outs.flatten.map(key)
    assert(rows.length == 1, s"expected one report row, got ${rows.toSeq}")
    val (src, nTerms, tv) = rows.head
    assert(src == "novel" && nTerms == 4L)
    assert(tv == (Scale + pTotal) / 2,
      s"novel-source TV $tv != exact maximum ${(Scale + pTotal) / 2}")
  }
}
