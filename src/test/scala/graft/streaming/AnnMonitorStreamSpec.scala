package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The continuous-ANN monitor's convergence law: streaming the whole
  * corpus through micro-batches — in any split — must END with every
  * standing query's top-k equal to the batch `pq_adc_topk` rows
  * bit-for-bit (the bounded-heap fold and the batch kernel share the
  * (adist, vec_id) total order, so the fixpoint is unique and
  * arrival-order-independent). Also pins the Update-mode contract
  * (emissions only when a query's top-k changes, monotone improving)
  * and the O(queries·k) state bound by construction. */
class AnnMonitorStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  test("replayed corpus converges to the batch pq_adc_topk exactly") {
    import spark.implicits._
    val vecs = graft.Tables.embeddings(spark, Dir)
      .select("vec_id", "embedding").collect()
      .map(r => IncomingVec(r.getLong(0), r.getSeq[Float](1)))
    // adversarial split: the query vectors' own ids land in the LAST
    // batch, so early batches run with a partial candidate set and
    // every later batch must displace earlier winners
    val batches = Seq(
      vecs.filter(v => v.vec_id % 3 == 2).toSeq,
      vecs.filter(v => v.vec_id % 3 == 1).toSeq,
      vecs.filter(v => v.vec_id % 3 == 0).toSeq)
    val outs = StreamDriver.collect(batches)(AnnMonitorStream.start(_, Dir, "ann-monitor-parity"))
    // latest emitted top-k per query wins (Update mode)
    val latest = outs.flatMap(_.groupBy(_.q_id).map { case (qid, rs) =>
      qid -> rs.sortBy(_.rank).map(r => (r.rank, r.vec_id, r.adist)).toSeq
    })
    val emitted = outs.map(_.length)
    val batchRows = SparkEntry.queries("pq_adc_topk")(spark, Dir)
      .collect()
      .groupBy(_.getLong(0)).view.mapValues(
        _.sortBy(_.getLong(1)).map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
      .toMap
    assert(batchRows.nonEmpty)
    assert(latest.toMap == batchRows,
      s"monitor fixpoint diverges from batch top-k:\n " +
        s"stream ${latest.toMap.toSeq.sortBy(_._1).take(2)}\n batch ${batchRows.toSeq.sortBy(_._1).take(2)}")
    // every batch emitted SOMETHING here (each adds closer candidates
    // for at least one query on this corpus), and emissions are only
    // ever ≤ queries·k rows — the state bound made visible
    assert(emitted.forall(_ <= batchRows.size * 3))
  }

  test("a re-delivered vec_id with a changed embedding occupies ONE rank") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vecs = graft.Tables.embeddings(spark, Dir)
      .select("vec_id", "embedding").collect()
      .map(r => IncomingVec(r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[IncomingVec]
    val latest = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Long)]]
    val q = AnnMonitorStream.start(in.toDS(), Dir, "ann-monitor-redeliver") {
      (updates, _) =>
        val rows = updates.collect()
        latest.synchronized {
          rows.groupBy(_.q_id).foreach { case (qid, rs) =>
            latest(qid) = rs.sortBy(_.rank).map(r => (r.rank, r.vec_id, r.adist)).toSeq
          }
        }
    }
    try {
      in.addData(vecs.toSeq); q.processAllAvailable()
      // vector update: the worst-ranked id of the smallest query gets
      // the rank-1 vector's embedding — its ADC score becomes rank-1's
      // exactly, so it must DISPLACE its own stale entry, not join it
      val q0 = latest.keys.min
      val top = latest(q0)
      val (_, v1, d1) = top.head
      val vLast = top.last._2
      val emb1 = vecs.find(_.vec_id == v1).get.embedding
      in.addData(Seq(IncomingVec(vLast, emb1))); q.processAllAvailable()
      val after = latest(q0)
      assert(after.map(_._2).distinct.size == after.size,
        s"same vec_id occupies two ranks after re-delivery: $after")
      val moved = after.filter(_._2 == vLast)
      assert(moved.nonEmpty && moved.head._3 == d1,
        s"re-delivered $vLast should carry rank-1's adist $d1, got $moved")
      // and across every query, no id holds two ranks
      latest.foreach { case (qid, rs) =>
        assert(rs.map(_._2).distinct.size == rs.size, s"dup ids for query $qid: $rs")
      }
      // WORSENING direction: rank-1's vector now gets vLast's ORIGINAL
      // embedding, so its new adist is the known dLast — the stale d1
      // entry must vanish (latest delivery wins), not shadow it
      val dLast = top.last._3
      assume(dLast != d1, "degenerate corpus: all top-k adists equal")
      val embLast = vecs.find(_.vec_id == vLast).get.embedding
      in.addData(Seq(IncomingVec(v1, embLast))); q.processAllAvailable()
      val after2 = latest(q0)
      assert(!after2.exists(e => e._2 == v1 && e._3 == d1),
        s"stale best score for $v1 survived a worsening re-delivery: $after2")
      val moved2 = after2.filter(_._2 == v1)
      moved2.foreach { e =>
        assert(e._3 == dLast, s"worsened $v1 should carry adist $dLast, got $e") }
      assert(after2.map(_._2).distinct.size == after2.size)
    } finally q.stop()
  }

  test("a batch that changes nothing emits nothing") {
    import spark.implicits._
    val vecs = graft.Tables.embeddings(spark, Dir)
      .select("vec_id", "embedding").collect()
      .map(r => IncomingVec(r.getLong(0), r.getSeq[Float](1)))
    // the second batch is an exact replay: no change
    val counts = StreamDriver.collect(Seq(vecs.toSeq, vecs.toSeq))(
      AnnMonitorStream.start(_, Dir, "ann-monitor-idem")).map(_.length)
    assert(counts.length == 2 && counts(0) > 0 && counts(1) == 0,
      s"replay batch must be silent, got $counts")
  }
}
