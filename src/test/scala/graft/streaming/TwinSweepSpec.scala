package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.{Curation, Dedup, Semantic}

/** One table of the streaming twins that keep per-key state through
  * [[Streams.keyedFold]] (directly or under [[Streams.replayGated]]) or
  * hand each micro-batch off through [[Streams.handOff]], and one sweep
  * that runs each over a seeded micro-batch split whose key space grows.
  * After every micro-batch it asserts:
  *   - a keyed-fold twin holds exactly one state row per key delivered so
  *     far (the stated bound: one state value per key, nothing per event);
  *   - `WorSampleStream` and `AnnMonitorStream` emit no rank above K or k;
  *   - a hand-off twin reports no state operator.
  * An at-least-once twin's micro-batches also redeliver a tail of the
  * batch before. Each twin's own spec proves its replay equals its batch
  * query. The table lives here, not in `graft.streaming`, because no main
  * code reads it; a twin object that calls one of the three but has no
  * entry fails the sweep. */
class TwinSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private sealed trait Contract
  /** A keyed fold that assumes ordered, exactly-once delivery. */
  private case object Ordered extends Contract
  /** A keyed fold whose result survives redelivered prefixes. */
  private case object AtLeastOnce extends Contract
  /** A stateless per-batch hand-off. */
  private case object HandOff extends Contract

  /** One twin: its object, contract and input; `key` is the input's key,
    * `stateKeys` the keys an event's state lives under, `maxRank` the
    * largest rank it may emit (0: it emits none), and `run` its sink rows
    * and progress over micro-batches. */
  private final class Twin[E](val twin: AnyRef, contract: Contract, input: => Seq[E],
      key: E => Any, stateKeys: Option[E => Seq[Any]] = None, maxRank: Long = 0L)(
      run: Seq[Seq[E]] => (Seq[Row], Seq[(StreamingQueryProgress, Seq[E])])) {
    val name: String = twin.getClass.getSimpleName.stripSuffix("$")

    def check(): Unit = {
      val rng = new Random(name.hashCode)
      val (rows, progress) = run(split(input, key, contract == AtLeastOnce, rng))
      val keysOf = stateKeys.getOrElse((e: E) => Seq(key(e)))
      val seen = progress.map(_._2.map(key).distinct.size)
      assert(seen.last > seen.head, s"the key space must grow: $seen")
      progress.foreach { case (p, delivered) =>
        val held = p.stateOperators.map(_.numRowsTotal).sum
        if (contract == HandOff) assert(p.stateOperators.isEmpty, s"batch ${p.batchId}: $held")
        else {
          val keys = delivered.flatMap(keysOf).distinct.size
          assert(held == keys, s"batch ${p.batchId}: $held state rows for $keys keys")
        }
      }
      if (maxRank > 0) {
        val top = rows.map(_.getAs[Long]("rank")).maxOption
        assert(top.exists(_ <= maxRank), s"ranks up to $top, bound $maxRank")
      }
      info(s"seed ${name.hashCode}: input keys per micro-batch ${seen.mkString(", ")}")
    }
  }

  /** Splits `events` into at most `n` non-empty micro-batches. Each key
    * arrives in a seeded batch (the first key in the first), and an event
    * goes to the later of its key's arrival and its own batch under seeded
    * cuts of the sequence, so each key's events keep their order and the
    * key space grows. With `replay` a batch first redelivers a seeded
    * tail of the batch before. */
  private def split[E](events: Seq[E], key: E => Any, replay: Boolean, rng: Random,
      n: Int = 6): Seq[Seq[E]] = {
    val arrival = events.map(key).distinct.zipWithIndex
      .map { case (k, i) => k -> (if (i == 0) 0 else rng.nextInt(n)) }.toMap
    val cuts = Seq.fill(n - 1)(rng.nextInt(events.size + 1))
    val batchOf = events.zipWithIndex.map { case (e, i) => math.max(arrival(key(e)), cuts.count(_ <= i)) }
    val batches = (0 until n).map(b => events.zip(batchOf).collect { case (e, `b`) => e })
      .filter(_.nonEmpty)
    if (!replay) batches
    else batches.head +: batches.zip(batches.tail).map { case (prev, b) =>
      prev.takeRight(rng.nextInt(prev.size + 1)) ++ b }
  }

  /** Every twin's input is a case class, so no session is needed to
    * build the table. */
  private implicit def product[T <: Product: TypeTag]: Encoder[T] = Encoders.product[T]

  private def fold[E: Encoder](twin: AnyRef, contract: Contract, input: => Seq[E], mode: String,
      maxRank: Long = 0L)(key: E => Any)(out: Dataset[E] => Dataset[_]): Twin[E] =
    new Twin(twin, contract, input, key, maxRank = maxRank)({ batches =>
      val r = StreamDriver.run(batches, mode)(out)
      (r.rows.collect().toSeq, r.progress)
    })

  private def handOff[E: Encoder](twin: AnyRef, input: => Seq[E])(key: E => Any)(
      start: (Dataset[E], String) => ((DataFrame, Long) => Unit) => StreamingQuery): Twin[E] =
    new Twin(twin, HandOff, input, key)(batches =>
      (Nil, StreamDriver.drive(batches)(start(_, s"sweep_${System.nanoTime()}")((_, _) => ()))))

  private lazy val docs = graft.Tables.documents(spark, Dir)
    .selectExpr("doc_id", "source", "lang", "text", "n_chars").collect().toSeq
  /** Events in (micros, event id) order, the replay gate's per-key order. */
  private lazy val events = graft.Tables.events(spark, Dir)
    .selectExpr("user_id", "ts", "event_id", "event_type", "value").collect().toSeq
    .sortBy(r => (Streams.micros(r.getTimestamp(1)), r.getLong(2)))
  private lazy val vecs = graft.Tables.embeddings(spark, Dir).select("vec_id", "embedding")
    .collect().toSeq.map(r => IncomingVec(r.getLong(0), r.getSeq[Float](1)))
  private def funnel = events.map(r => FunnelEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))

  private val table: Seq[Twin[_]] = {
    lazy val budgets = BudgetStream.trainBudgets(spark, Dir)
    lazy val queries = vecs.map(_.vec_id).filter(_ < Semantic.PqQueries)
    Seq(
      fold(BudgetStream, Ordered, docs.map(r => BudgetDoc(r.getLong(0), r.getString(1),
        r.getString(3).split(" ", -1).length.toLong)), "append")(_.source)(BudgetStream.gate(_, budgets)),
      fold(PackStream, Ordered, docs.map(r => PackDoc(r.getLong(0), (r.getLong(0) % 8).toInt,
        r.getLong(4), new Timestamp(r.getLong(0) * 1000))), "append")(_.shard)(PackStream.pack(_)),
      fold(RetentionStream, AtLeastOnce, events.map(r => RetEvent(r.getLong(0), r.getTimestamp(1))),
        "append")(_.userId)(RetentionStream.cells),
      fold(WorSampleStream, AtLeastOnce, docs.filter(_.getLong(4) > 0)
        .map(r => WorDoc(r.getLong(0), r.getString(1), r.getLong(4))), "update", Curation.WorK)(
        _.source)(WorSampleStream.sample),
      fold(PrefPairStream, AtLeastOnce, docs.map(r => PrefDoc(r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3))), "update")(d => (d.source, d.lang))(PrefPairStream.pairs),
      // each vector is scored against every standing query but itself
      new Twin(AnnMonitorStream, AtLeastOnce, vecs, (v: IncomingVec) => v.vec_id,
          Some((v: IncomingVec) => queries.filter(_ != v.vec_id)), Semantic.PqTopK.toLong)({ batches =>
        val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
        val progress = StreamDriver.drive(batches)(AnnMonitorStream.start(_, Dir, "sweep_ann") {
          (u, _) => rows.synchronized { rows ++= u.toDF().collect(); () }
        })
        (rows.toSeq, progress)
      }),
      fold(MarkovStream, AtLeastOnce, events.map(r => MkvEvent(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3))), "append")(_.userId)(MarkovStream.transitions),
      fold(Scd2Stream, AtLeastOnce, events.map(r => ScdEvent(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3))), "append")(_.userId)(Scd2Stream.versions),
      fold(QuantileStream, AtLeastOnce, events.map(r => QEvent(r.getString(3), r.getDouble(4),
        r.getTimestamp(1), r.getLong(2))), "append")(_.eventType)(QuantileStream.trackedDeltas),
      fold(AnomalyStream, AtLeastOnce, events.map(r => VolEvent(r.getString(3), r.getTimestamp(1),
        r.getLong(2))), "append")(_.eventType)(AnomalyStream.trackedDeltas),
      fold(FunnelStream, AtLeastOnce, funnel, "append")(_.userId)(FunnelStream.completions),
      fold(WindowFunnelStream, AtLeastOnce, funnel, "append")(_.userId)(WindowFunnelStream.levelUps),
      handOff(DriftStream, docs.map(r => SourcedDoc(r.getLong(0), r.getString(1), r.getString(3))))(
        _.source)(DriftStream.start(_, Dir, _)),
      handOff(DsirStream, docs.map(r => IncomingDoc(r.getLong(0), r.getString(2), r.getString(3))))(
        _.lang)(DsirStream.start(_, Dir, _)),
      handOff(CorruptStream, docs.map(r => IncomingDoc(r.getLong(0), r.getString(2), r.getString(3))))(
        _.doc_id)(CorruptStream.start),
      handOff(NearDupStream, Dedup.withNearDupes(spark, Dir).collect().toSeq
        .map(r => NearDupDoc(r.getLong(0), r.getString(1))))(_.doc_id)(NearDupStream.start(_, Dir, _)),
      handOff(PqStream, vecs)(_.vec_id)(PqStream.start(_, Dir, _)),
      handOff(DecontamStream, vecs)(_.vec_id)(DecontamStream.start(_, Dir, _)))
  }

  test("every twin object that calls keyedFold, replayGated or handOff has one table entry") {
    val call = """object (\w+)|Streams\.(?:keyedFold|replayGated|handOff)\(""".r
    val callers = Files.list(Paths.get("src/main/scala/graft/streaming")).iterator.asScala
      .flatMap { f =>
        var owner = ""
        call.findAllMatchIn(Files.readString(f)).flatMap { m =>
          if (m.group(1) != null) { owner = m.group(1); None } else Some(owner)
        }
      }.toSet
    val names = table.map(_.name)
    assert(names.distinct == names && callers == names.toSet,
      s"no entry: ${callers -- names}; no caller: ${names.toSet -- callers}")
  }

  table.foreach(t => test(s"${t.name} holds its stated bound after every micro-batch")(t.check()))
}
