package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The streaming instance builder's parity and idempotence laws:
  * corrupting the corpus through micro-batches — in any split — must
  * produce exactly the batch query's rows (shared-code parity), and a
  * re-delivered doc must produce byte-identical instances (the
  * content-keyed mask makes replay idempotent WITHOUT dedup state). */
class CorruptStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private type RowT = (Long, Long, Long, Long, Long, Long)
  private def collectRows(rows: Array[org.apache.spark.sql.Row]): Seq[RowT] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

  test("streamed corpus equals the batch query; replay is byte-identical") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, Dir)
      .select("doc_id", "lang", "text").collect()
      .map(r => IncomingDoc(r.getLong(0), r.getString(1), r.getString(2)))
    val batches = Seq(
      docs.filter(_.doc_id % 3 == 0).toSeq,
      docs.filter(_.doc_id % 3 != 0).toSeq,
      docs.filter(_.doc_id % 3 == 0).toSeq) // replay of batch 1
    val seen = StreamDriver.collect(batches)(CorruptStream.start(_, "corrupt-parity")).map(collectRows)
    assert(seen.size == 3)
    // replayed batch = first batch, byte-identical, no state involved
    assert(seen(2).sortBy(_._1) == seen(0).sortBy(_._1),
      "re-delivered docs must corrupt identically")
    // union of the first two batches = the batch query exactly
    val streamed = (seen(0) ++ seen(1)).sortBy(_._1)
    val batch = collectRows(
      SparkEntry.queries("span_corruption")(spark, Dir).collect()).sortBy(_._1)
    assert(streamed == batch, "stream/batch parity broken")
  }
}
