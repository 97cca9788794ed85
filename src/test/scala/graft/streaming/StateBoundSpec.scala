package graft.streaming

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.ChatMessage

/** The state bounds the stateful stream contracts state in their
  * scaladoc, read from each micro-batch's state-operator progress over a
  * long run whose key space grows every batch. */
class StateBoundSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val T0 = Instant.parse("2024-03-01T12:00:00Z")

  /** Runs `out` over `batches`, one micro-batch each, and returns every
    * batch's progress with the events delivered up to and including it. */
  private def run[E](in: MemoryStream[E], out: Dataset[_], mode: String,
      batches: Seq[Seq[E]]): Seq[(StreamingQueryProgress, Seq[E])] = {
    val q = out.writeStream.outputMode(mode).format("memory")
      .queryName(s"state_bound_${System.nanoTime()}").start()
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    // a trigger that ran no batch reports no state operator
    val progress = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty).sortBy(_.batchId)
    val dataIds = progress.filter(_.numInputRows > 0).map(_.batchId)
    assert(dataIds.size == batches.size, s"one data micro-batch per batch: $dataIds")
    progress.map(p => p -> dataIds.zip(batches).takeWhile(_._1 <= p.batchId).flatMap(_._2))
  }

  test("lastValueDiff holds no key whose last event lies beyond its TTL-plus-watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ttlMs = 10000L
    def msg(id: String, at: Instant) =
      ChatMessage("global", id, Timestamp.from(at), "e.png", "u", s"message $id at $at", 0,
        deleted = false, None)
    // batch b, a minute after batch b-1: five new keys, and an edit of a
    // key of batch b-3, long evicted, that puts it back in the horizon
    val batches = (0 until 30).map { b =>
      val at = T0.plusSeconds(60L * b)
      (0 until 5).map(i => msg(s"$b-$i", at)) ++ (if (b >= 3) Seq(msg(s"${b - 3}-0", at)) else Nil)
    }
    val in = MemoryStream[ChatMessage]
    val runs = run(in, Streams.lastValueDiff(in.toDS(), "10 seconds", ttlMs), "update", batches)
    runs.foreach { case (p, delivered) =>
      val watermark = Instant.parse(p.eventTime.get("watermark")).toEpochMilli
      val lastTs = delivered.groupBy(m => (m.room, m.id)).values.map(_.map(_.ts.getTime).max)
      val horizon = lastTs.count(_ + ttlMs >= watermark)
      val rows = p.stateOperators.head.numRowsTotal
      assert(rows <= horizon, s"batch ${p.batchId}: $rows state rows, $horizon keys in the " +
        s"horizon of watermark ${p.eventTime.get("watermark")}")
    }
    val (last, delivered) = runs.last
    val keys = delivered.map(_.id).distinct.size
    info(s"$keys keys seen, ${last.stateOperators.head.numRowsTotal} held after the last batch")
    assert(last.stateOperators.head.numRowsTotal < keys / 10, "the state must not grow with keys")
  }

  test("replayGated holds exactly one (lastTs, lastId, s) row per key seen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch b: five new keys, and a fresh event of every third older key
    val batches = (0 until 20).map { b =>
      val at = Timestamp.from(T0.plusSeconds(b))
      (0 until 5).map(i => GateEvent(5L * b + i, at, b * 100L + i)) ++
        (0L until 5L * b by 3).map(k => GateEvent(k, at, b * 100L + 50))
    }
    val in = MemoryStream[GateEvent]
    val gated = Streams.replayGated(in.toDS())(_.key, _.ts, _.eventId, zero = 0L) {
      (key, n, admitted) => (n + admitted.size, Seq(key -> (n + admitted.size)))
    }
    run(in, gated, "append", batches).foreach { case (p, delivered) =>
      val keys = delivered.map(_.key).distinct.size
      assert(p.stateOperators.head.numRowsTotal == keys,
        s"batch ${p.batchId}: ${p.stateOperators.head.numRowsTotal} state rows for $keys keys")
    }
  }
}
