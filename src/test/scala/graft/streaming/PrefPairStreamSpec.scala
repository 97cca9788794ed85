package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The running preference miner must converge to the batch
  * `pref_pair_mine` pairs bit-for-bit (on the twin's column set —
  * no n_docs, the documented delta) for ANY micro-batch split and
  * under at-least-once redelivery, never retract a pair (margin is
  * monotone), and stay silent on batches that improve nothing. */
class PrefPairStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private type Pair = (String, String, Long, Long, Long)

  private def batchPairs: Set[Pair] =
    SparkEntry.queries("pref_pair_mine")(spark, Dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def corpusDocs: Array[PrefDoc] =
    graft.Tables.documents(spark, Dir)
      .selectExpr("doc_id", "source", "lang", "text").collect()
      .map(r => PrefDoc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

  /** Run the stream, returning each stratum's LAST emitted pair. */
  private def run(batches: Seq[Seq[PrefDoc]]): Set[Pair] = {
    import spark.implicits._
    StreamDriver.run(batches, "update")(PrefPairStream.pairs).rows.as[PrefPair].collect()
      .zipWithIndex.groupBy(p => (p._1.source, p._1.lang)).values
      .map(_.maxBy(_._2)._1) // newest emission per stratum
      .map(p => (p.source, p.lang, p.chosenId, p.rejectedId, p.margin)).toSet
  }

  test("one-batch replay converges to the batch pairs bit-for-bit") {
    val got = run(Seq(corpusDocs.toSeq))
    assert(batchPairs.nonEmpty && got == batchPairs,
      s"diff: ${(got diff batchPairs).take(3)} / ${(batchPairs diff got).take(3)}")
  }

  test("arbitrary splits + at-least-once redelivery converge identically") {
    val docs = corpusDocs
    val byFour = docs.grouped(docs.length / 4 + 1).map(_.toSeq).toSeq
    val withDup = (byFour.head ++ byFour.head.take(10)) +: byFour.tail
    assert(run(withDup) == batchPairs,
      "split/redelivery changed the converged pairs")
  }

  test("an unimproving batch emits nothing; margin never decreases") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = corpusDocs.toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[PrefDoc]
    val name = s"pref_quiet_${System.nanoTime()}"
    val q = PrefPairStream.pairs(in.toDS()).writeStream
      .outputMode("update").format("memory").queryName(name).start()
    try {
      in.addData(docs); q.processAllAvailable()
      val afterFirst = spark.table(name).count()
      in.addData(docs.take(25)); q.processAllAvailable() // pure redelivery
      assert(spark.table(name).count() == afterFirst,
        "a no-improvement batch must emit nothing")
      // margins across successive emissions of one stratum never decrease
      spark.table(name).as[PrefPair].collect().zipWithIndex
        .groupBy(p => (p._1.source, p._1.lang)).values.foreach { em =>
          val ms = em.sortBy(_._2).map(_._1.margin)
          assert(ms.zip(ms.tail).forall { case (a, b) => b >= a },
            s"margin retracted: $ms")
        }
    } finally q.stop()
  }
}
