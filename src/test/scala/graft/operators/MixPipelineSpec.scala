package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** Funnel mechanics the oracle hash states only implicitly: the stages
  * only ever narrow (n0 ≥ n1 ≥ n2 ≥ n3 per cell), the domain gate is
  * all-or-nothing per source, stage 1 agrees with the standalone
  * source_quality_gate query cell-for-cell, and the composition
  * actually exercises every stage (each inequality is strict
  * somewhere on the harness corpus — a funnel that never narrows at a
  * stage isn't testing that stage). */
class MixPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private def funnel: Array[(String, String, Long, Long, Long, Long, Long)] =
    SparkEntry.queries("mix_pipeline")(spark, Dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))

  test("stages only narrow, and each stage bites somewhere") {
    val rows = funnel
    assert(rows.nonEmpty)
    rows.foreach { case (src, lang, n0, n1, n2, n3, tok3) =>
      assert(n0 >= n1 && n1 >= n2 && n2 >= n3,
        s"($src,$lang): funnel widened: $n0 >= $n1 >= $n2 >= $n3 violated")
      assert(n3 >= 0 && (tok3 == 0) == (n3 == 0 || tok3 == 0),
        s"($src,$lang): token mass without docs")
      if (n3 > 0) assert(tok3 >= n3, s"($src,$lang): selected docs imply tokens")
    }
    // every stage must bite somewhere on the harness corpus
    assert(rows.exists(r => r._3 > r._4), "domain gate never dropped anything")
    assert(rows.exists(r => r._4 > r._5), "token budget never dropped anything")
    assert(rows.exists(r => r._5 > r._6), "dsir selection never dropped anything")
    assert(rows.exists(_._6 > 0), "nothing survived the pipeline")
  }

  test("the domain gate is all-or-nothing per source and matches the standalone query") {
    val rows = funnel
    // all-or-nothing: within a source, either every cell keeps all its
    // docs at stage 1 or every cell keeps none
    rows.groupBy(_._1).foreach { case (src, cells) =>
      val kinds = cells.map(c => c._4 == c._3 || c._4 == 0L)
      assert(kinds.forall(identity),
        s"$src: stage-1 must keep all or none per cell: ${cells.toSeq}")
      val survived = cells.map(c => c._4 > 0).distinct
      assert(survived.length == 1, s"$src: gate split a source across cells")
    }
    // stage 1 ≡ the standalone source_quality_gate, cell by cell
    val gateCells = SparkEntry.queries("source_quality_gate")(spark, Dir)
      .join(spark.read.parquet(s"$Dir/documents.parquet").select("doc_id", "lang"),
        "doc_id")
      .groupBy("source", "lang").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { case (src, lang, _, n1, _, _, _) =>
      assert(gateCells.getOrElse((src, lang), 0L) == n1,
        s"($src,$lang): stage-1 count $n1 diverges from source_quality_gate")
    }
  }

  test("window gate keeps NULL-source rows like source a") {
    // Window.partitionBy groups nulls into their own partition, so the
    // null source's two rows must be kept and get exactly the verdict
    // of source "a", whose two rows are the same (r20 ADVICE)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("n_chars", LongType),
      StructField("n_tok", LongType)))
    val rows = Seq(
      Row(1L, "a", "en", 10L, 3L), Row(2L, "a", "en", 500L, 90L),
      Row(3L, null, "en", 10L, 3L), Row(4L, null, "en", 500L, 90L))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val g1 = TrainingMix.gateStage(d).select("doc_id", "g1").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(g1.keySet == Set(1L, 2L, 3L, 4L), s"window gate lost rows: ${g1.keySet}")
    assert(g1(3L) == g1(1L) && g1(4L) == g1(2L),
      s"the null source was gated unlike the identical source a: $g1")
  }
}
