package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The running weighted sampler must converge to the batch
  * `weighted_sample_wor` rows bit-for-bit for ANY micro-batch split
  * and under at-least-once redelivery (the content-keyed priority
  * makes the fold order-insensitive and idempotent), keep only
  * O(K) state per source, and stay silent on batches that change
  * nothing. */
class WorSampleStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private type Pick = (String, Long, Long, Long)

  private def batchRows: Set[Pick] =
    SparkEntry.queries("weighted_sample_wor")(spark, Dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def corpusDocs: Array[WorDoc] =
    graft.Tables.documents(spark, Dir)
      .selectExpr("doc_id", "source", "n_chars").collect()
      .map(r => WorDoc(r.getLong(0), r.getString(1), r.getLong(2)))

  /** Run the stream, returning each source's LAST emitted sample. */
  private def run(batches: Seq[Seq[WorDoc]]): Set[Pick] = {
    import spark.implicits._
    // update sink appends each emission; the final sample per source
    // is the set of rows from its LAST emitting batch — reconstruct
    // by folding emissions in order
    val rows = StreamDriver.run(batches, "update")(WorSampleStream.sample).rows.as[WorPick].collect()
    rows.zipWithIndex.groupBy(_._1.source).view.mapValues { rs =>
      // ranks re-emit as full samples; keep the suffix after the last
      // rank-1 row (the newest full emission)
      val lastStart = rs.lastIndexWhere(_._1.rank == 1L)
      rs.drop(lastStart).map(_._1)
    }.toMap.values.flatten
      .map(p => (p.source, p.rank, p.docId, p.priority)).toSet
  }

  test("one-batch replay converges to the batch sample bit-for-bit") {
    val got = run(Seq(corpusDocs.toSeq))
    assert(batchRows.nonEmpty && got == batchRows,
      s"diff: ${(got diff batchRows).take(3)} / ${(batchRows diff got).take(3)}")
  }

  test("arbitrary splits + at-least-once redelivery converge identically") {
    val docs = corpusDocs
    val byThree = docs.grouped(docs.length / 3 + 1).map(_.toSeq).toSeq
    val withDup = byThree.head ++ byThree.head.take(20)
    val got = run(withDup +: byThree.tail)
    assert(got == batchRows, "split/redelivery changed the converged sample")
  }

  test("an unimproving batch emits nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WorDoc]
    val name = s"wor_quiet_${System.nanoTime()}"
    val q = WorSampleStream.sample(in.toDS()).writeStream
      .outputMode("update").format("memory").queryName(name).start()
    try {
      in.addData(corpusDocs.toSeq); q.processAllAvailable()
      val n1 = spark.table(name).count()
      in.addData(corpusDocs.take(50).toSeq); q.processAllAvailable()
      val n2 = spark.table(name).count()
      assert(n2 == n1, s"redelivered batch emitted ${n2 - n1} rows")
    } finally q.stop()
  }
}
