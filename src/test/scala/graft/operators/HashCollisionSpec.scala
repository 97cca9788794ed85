package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The r22 collision-proofing gate, on REAL h60 collisions: two
  * 3-token shingle strings and two 10-token chunk strings whose md5
  * digests agree on the first 15 hex digits (the h60 the r21
  * hash-typing keyed every exact comparison on) but differ beyond —
  * found offline by a parallel distinguished-point rho search over the
  * 60-bit space (~2³⁰ md5 evaluations; the birthday bound that makes
  * such pairs EXPECTED at a 10¹⁰⁺-shingle corpus). Under the r21
  * h60-only keys each pair silently merges: the prefix join and ngram
  * miner fabricate a Jaccard-1000 pair from disjoint documents, the
  * chunk dedup fakes df=2 and deletes unique text. Under the r22
  * widened (h60, next-60-md5-bits) keys every output below must match
  * the STRING semantics exactly — which is what these tests pin,
  * alongside a positive control proving the true-duplicate path still
  * fires. */
class HashCollisionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // h60("cdf4538e9d207cbf xq zq") == h60("c2daca213f62b17d xq zq"):
  // md5 prefixes d3e6e7cd9a5948d|3... vs d3e6e7cd9a5948d|5...
  private val ShingleA = "cdf4538e9d207cbf xq zq"
  private val ShingleB = "c2daca213f62b17d xq zq"
  // h60("cdc0407386e021d6 t ...") == h60("c59aa61380fde942 t ...'"):
  // md5 prefixes d7b92cbcd41a177|b... vs d7b92cbcd41a177|5...
  private val ChunkA = "cdc0407386e021d6 t t t t t t t t t"
  private val ChunkB = "c59aa61380fde942 t t t t t t t t t"

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("the pinned pairs really are h60 collisions with differing tails") {
    import spark.implicits._
    for ((a, b) <- Seq((ShingleA, ShingleB), (ChunkA, ChunkB))) {
      val r = Seq((a, b)).toDF("a", "b").select(
        expr(s"${Dedup.h60Sql("a")}").as("h1a"),
        expr(s"${Dedup.h60Sql("b")}").as("h1b"),
        expr("CAST(conv(substring(md5(a),17,15),16,10) AS BIGINT)").as("h2a"),
        expr("CAST(conv(substring(md5(b),17,15),16,10) AS BIGINT)").as("h2b"))
        .collect().head
      assert(a != b)
      assert(r.getLong(0) == r.getLong(1), s"h60 must collide for '$a' / '$b'")
      assert(r.getLong(2) != r.getLong(3), s"h2 must differ for '$a' / '$b'")
    }
  }

  test("chunk dedup keeps unique text whose chunks h60-collide") {
    val out = Dedup.chunkDedupOf(docsOf(1L -> ChunkA, 2L -> ChunkB))
      .orderBy("doc_id").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out == Seq((1L, 1L, 0L, ChunkA), (2L, 1L, 0L, ChunkB)),
      s"colliding-but-distinct chunks must both survive, got $out")
    spark.catalog.clearCache()
  }

  test("chunk dedup still removes TRUE duplicate chunks (positive control)") {
    val out = Dedup.chunkDedupOf(docsOf(1L -> ChunkA, 2L -> ChunkA))
      .orderBy("doc_id").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out == Seq((1L, 1L, 1L, ""), (2L, 1L, 1L, "")),
      s"true duplicate chunks must scrub both docs, got $out")
    spark.catalog.clearCache()
  }

  test("prefix join emits only the true pair on a collision corpus") {
    // docs 1/2 carry the COLLIDING shingles (true Jaccard 0); doc 3
    // repeats doc 1's text (true Jaccard 1 with doc 1 — the control)
    val docs = docsOf(1L -> ShingleA, 2L -> ShingleB, 3L -> ShingleA)
    val base = Dedup.shingleSetArrays(docs)
    val out = Dedup.jaccardPrefixJoinOf(base, Dedup.jaccardPrefixCandsOf(base))
      .collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out == Seq((1L, 3L, 1L, 1L, 1000L)),
      s"expected only the true (1,3) pair, got $out")
  }

  test("ngram miner counts no common shingle across the collision") {
    val docs = docsOf(1L -> ShingleA, 2L -> ShingleB, 3L -> ShingleA)
    val out = Dedup.ngramJaccardPairsOf(docs)
      .collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out == Seq((1L, 3L, 1L, 1.0)),
      s"expected only the true (1,3) pair, got $out")
    graft.Sessions.isolate(spark)
  }

  test("containment verify scores the colliding candidate pair zero") {
    // the LSH candidate generator works in h60 space by DESIGN (an
    // estimator — the oracle's own CTEs band the same h60), so the
    // colliding docs DO become candidates; the widened verify must then
    // score their true intersection: 0
    val docs = docsOf(1L -> ShingleA, 2L -> ShingleB, 3L -> ShingleA)
    val out = Dedup.containmentVerifyOf(docs, Dedup.minhashPairsOf(docs))
      .collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6)))
    assert(out == Seq(
      (1L, 2L, 1L, 1L, 0L, 0L, false),
      (1L, 3L, 1L, 1L, 1L, 1000L, false),
      (2L, 3L, 1L, 1L, 0L, 0L, false)),
      s"widened verify must score colliding pairs by true intersection, got $out")
    graft.Sessions.isolate(spark)
  }
}
