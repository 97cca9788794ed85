package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins the r21 hash-keyed chunk-dedup df/join: the corpus's distinct
  * 10-word chunks are COLLISION-FREE under h60, so counting and
  * equi-joining on the hash is value-identical to the string spelling
  * the oracle computes independently. (A collision would merge two
  * df-1 chunks into a fake df-2 "common" chunk and silently remove
  * unique text — this spec makes that loud on the harness corpora.) */
class ChunkHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ChunkW = 10

  private def chunkRel(dir: String) =
    Dedup.withExactDupes(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_chunks", expr(
        s"CAST((length(text) - length(translate(text, ' ', '')) + 1) div $ChunkW AS BIGINT)"))
      .filter(col("n_chunks") > 0)
      .select(explode(expr(
        s"""transform(sequence(0, CAST(n_chunks AS INT) - 1),
           |  i -> concat_ws(' ', slice(words, i * $ChunkW + 1, $ChunkW)))""".stripMargin))
        .as("chunk"))

  test("distinct 10-word chunks are h60-collision-free on the dedup corpora") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rel = chunkRel(dir)
      val strings = rel.select("chunk").distinct().count()
      val hashes = rel.select(expr(s"${Dedup.h60Sql("chunk")}").as("h"))
        .distinct().count()
      assert(strings == hashes,
        s"$dir: h60 collision among distinct chunks ($strings strings vs " +
          s"$hashes hashes) — the hash-keyed chunk dedup would remove " +
          "unique text here")
    }
  }

  test("hash-keyed chunk dedup matches the string-keyed spelling row for row") {
    val dir = "/root/testdata/sf0.001"
    val input = Dedup.withExactDupes(spark, dir)
    // independent STRING spelling (the pre-r21 production shape)
    val docs = input
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_chunks", expr(
        s"CAST((length(text) - length(translate(text, ' ', '')) + 1) div $ChunkW AS BIGINT)"))
    val chunks = docs
      .select(col("doc_id"), col("n_chunks"), explode_outer(expr(
        s"""CASE WHEN n_chunks > 0 THEN
           |  transform(sequence(0, CAST(n_chunks AS INT) - 1),
           |    i -> struct(CAST(i AS BIGINT) AS idx,
           |                concat_ws(' ', slice(words, i * $ChunkW + 1, $ChunkW)) AS chunk))
           |END""".stripMargin)).as("c"))
      .select(col("doc_id"), col("n_chunks"),
        col("c.idx").as("idx"), col("c.chunk").as("chunk"))
    val common = chunks.filter(col("chunk").isNotNull)
      .groupBy("chunk").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("chunk").as("cchunk"))
    val expected = chunks.join(common, col("chunk") === col("cchunk"), "left")
      .groupBy("doc_id")
      .agg(max(col("n_chunks")).as("n_chunks"),
        count(when(col("cchunk").isNull && col("chunk").isNotNull, 1)).as("n_kept"),
        array_join(expr(
          """transform(sort_array(collect_list(
            |  CASE WHEN cchunk IS NULL AND chunk IS NOT NULL
            |       THEN struct(idx, chunk) END)), s -> s.chunk)""".stripMargin),
          " ").as("clean_text"))
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - col("n_kept")).as("n_removed"), col("clean_text"))
      .orderBy("doc_id")
      .collect().toSeq
    val got = graft.SparkEntry.queries("corpus_chunk_dedup")(spark, dir)
      .collect().toSeq
    assert(got == expected, "hash-keyed chunk dedup diverged from the string spelling")
    graft.Sessions.isolate(spark)
    ()
  }
}
