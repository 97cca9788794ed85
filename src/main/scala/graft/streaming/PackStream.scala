package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** A document entering the packer: shard is assigned upstream by the
  * same deterministic doc_id hash the batch packer uses
  * ([[graft.operators.TrainingMix.sequencePack]]). */
final case class PackDoc(docId: Long, shard: Int, nTokens: Long, ts: Timestamp)

/** A packed document: the training sequence its first token lands in
  * and its offset there. */
final case class PackedDoc(docId: Long, shard: Int, seqInShard: Long, tokOffset: Long)

/** Streaming twin of the batch `sequence_pack`: continuous
  * concat-then-chunk packing, the form a live ingestion pipeline runs
  * (documents arrive forever; training sequences are emitted as the
  * token stream fills them).
  *
  * Contract difference vs batch, stated honestly: a stream has no
  * global doc_id order, so packing order is (event time, doc_id) within
  * a micro-batch and arrival order across batches — deterministic for a
  * given stream, and identical to the batch result when the stream
  * delivers docs in doc_id order (PackStreamSpec proves that
  * equivalence).
  *
  * Scale shape: state per shard is ONE long — the shard's running token
  * total — so total state is O(NumShards) regardless of stream length;
  * no watermark is needed to bound it (nothing per-doc is retained).
  * [[Streams.keyedFold]] keys on shard, so lanes pack independently
  * and in parallel, exactly like the batch window partitions.
  */
object PackStream {
  def pack(docs: Dataset[PackDoc], seqLen: Long = 256L): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Streams.keyedFold(docs)(_.shard, zero = 0L) { (shard, total, incoming) =>
      var running = total
      val out = incoming.toSeq.sortBy(d => (Streams.micros(d.ts), d.docId)).map { d =>
        val start = running
        running += d.nTokens
        PackedDoc(d.docId, shard, start / seqLen, start % seqLen)
      }
      (running, out)
    }
  }
}
