package graft.streaming

import java.sql.Timestamp
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** An event for the gate spec: `key` is the fold key. */
final case class GateEvent(key: Long, ts: Timestamp, eventId: Long)

/** [[Streams.replayGated]] on its own, at the edges of its (micros,
  * event id) watermark. The event twins' specs cover in-order splits,
  * prefix replays and full redelivery through each twin's fold; these
  * cases pin the comparison itself. */
class ReplayGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def at(iso: String): Timestamp = Timestamp.from(Instant.parse(iso))
  private val T = at("2024-03-01T12:00:00.000001Z")

  /** Feeds `batches` through a fold that emits every admitted event as
    * (key, event id, micros, n), n being the key's admitted count so
    * far: the fold's own state, threaded across batches. */
  private def run(batches: Seq[Seq[GateEvent]]): Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    StreamDriver.run(batches, "append")(Streams.replayGated(_)(_.key, _.ts, _.eventId, zero = 0L) {
      (key, n, admitted) =>
        (n + admitted.size, admitted.zipWithIndex.map { case ((e, t), i) =>
          (key, e.eventId, t, n + i + 1) })
    }).rows.as[(Long, Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._4))
  }

  test("an equal-micros event with a larger id in a later batch is admitted") {
    val t = Streams.micros(T)
    val got = run(Seq(
      Seq(GateEvent(1, T, 5)),
      Seq(GateEvent(1, T, 7), GateEvent(1, T, 3), GateEvent(2, T, 3))))
    assert(got == Seq((1L, 5L, t, 1L), (1L, 7L, t, 2L), (2L, 3L, t, 1L)))
  }

  test("an event exactly at the stored (lastTs, lastId) is dropped") {
    val later = at("2024-03-01T12:00:01Z")
    val got = run(Seq(
      Seq(GateEvent(1, T, 5), GateEvent(1, T, 5)),
      Seq(GateEvent(1, T, 5), GateEvent(1, later, 6))))
    assert(got == Seq((1L, 5L, Streams.micros(T), 1L), (1L, 6L, Streams.micros(later), 2L)))
  }

  test("a pre-epoch timestamp folds at its negative micros, in order") {
    val before = at("1969-12-31T23:59:59.999999Z")
    val epoch = at("1970-01-01T00:00:00Z")
    assert(Streams.micros(before) == -1L && Streams.fromMicros(-1L) == before)
    val got = run(Seq(
      Seq(GateEvent(1, epoch, 1), GateEvent(1, before, 2)),
      Seq(GateEvent(1, before, 3), GateEvent(1, epoch, 4))))
    assert(got == Seq((1L, 2L, -1L, 1L), (1L, 1L, 0L, 2L), (1L, 4L, 0L, 3L)))
  }
}
