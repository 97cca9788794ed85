package graft.streaming

import java.sql.Timestamp
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.ChatMessage

/** The state bounds the stateful stream contracts state in their
  * scaladoc, read from each micro-batch's state-operator progress over a
  * long run whose key space grows every batch. The keyed folds of the
  * twins are swept in [[TwinSweepSpec]]. */
class StateBoundSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val T0 = Instant.parse("2024-03-01T12:00:00Z")

  test("lastValueDiff holds no key whose last event lies beyond its TTL-plus-watermark horizon") {
    import spark.implicits._
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
    val runs = StreamDriver.run(batches, "update")(Streams.lastValueDiff(_, "10 seconds", ttlMs)).progress
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
    // batch b: five new keys, and a fresh event of every third older key
    val batches = (0 until 20).map { b =>
      val at = Timestamp.from(T0.plusSeconds(b))
      (0 until 5).map(i => GateEvent(5L * b + i, at, b * 100L + i)) ++
        (0L until 5L * b by 3).map(k => GateEvent(k, at, b * 100L + 50))
    }
    StreamDriver.run(batches, "append")(Streams.replayGated(_)(_.key, _.ts, _.eventId, zero = 0L) {
      (key, n, admitted) => (n + admitted.size, Seq(key -> (n + admitted.size)))
    }).progress.foreach { case (p, delivered) =>
      val keys = delivered.map(_.key).distinct.size
      assert(p.stateOperators.head.numRowsTotal == keys,
        s"batch ${p.batchId}: ${p.stateOperators.head.numRowsTotal} state rows for $keys keys")
    }
  }
}
