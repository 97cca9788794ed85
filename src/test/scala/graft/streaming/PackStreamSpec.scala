package graft.streaming

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The streaming packer must agree with the batch chunk contract:
  * running totals survive micro-batch boundaries, and a stream
  * delivered in doc_id order packs identically to the batch formula. */
class PackStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def doc(id: Long, shard: Int, n: Long) =
    PackDoc(id, shard, n, new Timestamp(id * 1000))

  test("running token totals carry across micro-batches per shard") {
    import spark.implicits._
    // batch 1: shard 0 fills 170 tokens, shard 1 fills 40;
    // batch 2: continues where batch 1 left off, per shard
    val batches = Seq(Seq(doc(1, 0, 90), doc(2, 0, 80), doc(3, 1, 40)),
      Seq(doc(4, 0, 50), doc(5, 1, 70)))
    val got = StreamDriver.run(batches, "append")(PackStream.pack(_, seqLen = 100L)).rows
      .as[PackedDoc].collect().map(p => p.docId -> (p.shard, p.seqInShard, p.tokOffset)).toMap
    assert(got(1L) == ((0, 0L, 0L)))   // starts at 0
    assert(got(2L) == ((0, 0L, 90L)))  // 90 -> seq 0, offset 90
    assert(got(3L) == ((1, 0L, 0L)))
    assert(got(4L) == ((0, 1L, 70L)))  // 170 across batches -> seq 1, offset 70
    assert(got(5L) == ((1, 0L, 40L)))  // shard 1 total was 40
  }

  test("in-order stream packs identically to the batch formula") {
    import spark.implicits._
    // deterministic doc sizes; shard by doc_id % 2 on both paths
    val docs = (1L to 20L).map(i => doc(i, (i % 2).toInt, 10 + (i * 7) % 50))
    val streamed = StreamDriver.run(docs.grouped(7).toSeq, "append")(PackStream.pack(_, seqLen = 64L))
      .rows.as[PackedDoc].collect().map(p => p.docId -> (p.seqInShard, p.tokOffset)).toMap
    // batch formula: per shard, prefix-sum in doc_id order
    val expected = docs.groupBy(_.shard).flatMap { case (_, ds) =>
      val sorted = ds.sortBy(_.docId)
      val starts = sorted.scanLeft(0L)((acc, d) => acc + d.nTokens)
      sorted.zip(starts).map { case (d, start) => d.docId -> (start / 64L, start % 64L) }
    }.toMap
    assert(streamed == expected)
  }

  test("docs inside one millisecond pack in event-time order, not doc-id order") {
    import spark.implicits._
    // doc 2 comes 800 µs before doc 1, in the same millisecond
    val at = java.time.Instant.parse("2024-03-01T12:00:00.000900Z")
    val docs = Seq(PackDoc(1L, 0, 30L, Timestamp.from(at)),
      PackDoc(2L, 0, 50L, Timestamp.from(at.minusNanos(800000L))))
    val got = StreamDriver.run(Seq(docs), "append")(PackStream.pack(_, seqLen = 64L)).rows
      .as[PackedDoc].collect().map(p => p.docId -> p.tokOffset).toMap
    assert(got == Map(2L -> 0L, 1L -> 50L))
  }
}
