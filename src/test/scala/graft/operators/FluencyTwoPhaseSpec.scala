package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.TestSpark

/** Pins the two-phase fluency tercile (the r18-verdict skew
  * respelling) EQUAL to the single-window ntile spelling, row for row:
  * on the harness corpus (real fluency distribution, 4 languages with
  * different remainders mod 3), on crafted group sizes covering every
  * remainder class, on coarse-class boundary ties, and on the
  * single-language skew regime the respelling exists for. Also pins
  * the heuristic: the registered query picks its spelling from the
  * documents-scan size. */
class FluencyTwoPhaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[(Long, String, Long, Long, String)] =
    df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq

  private def both(fl: DataFrame): Unit = {
    val w = rows(TextAnalysis.fluencyTerciledWindow(fl))
    val t = rows(TextAnalysis.fluencyTerciledTwoPhase(fl))
    assert(w.nonEmpty && t == w)
  }

  private def fl(rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "lang", "fluency")
  }

  test("two-phase == window on the harness fluency relation") {
    both(TextAnalysis.bigramFluency(spark, Dir))
  }

  test("two-phase == window on every remainder class n mod 3 = 0, 1, 2") {
    // group sizes 3..8 cover all remainders; fluencies collide across
    // docs so the doc_id tiebreak is exercised too
    val data = (0 until 6).flatMap { g =>
      val n = g + 3
      (0 until n).map(i => ((g * 100 + i).toLong, s"lang$g", (i % 4) * 1000L))
    }
    both(fl(data))
  }

  test("two-phase == window across coarse-class boundaries and exact ties") {
    // fluencies straddling the 4096-class edges, with duplicates ON the
    // edge — the two-phase rank must not double-count or skip at the
    // class seam
    val edge = 4096L
    val data = Seq(
      (1L, "x", edge - 1), (2L, "x", edge - 1), (3L, "x", edge),
      (4L, "x", edge), (5L, "x", edge + 1), (6L, "x", 3 * edge),
      (7L, "x", 3 * edge - 1), (8L, "x", 0L), (9L, "x", 1000000L),
      (10L, "x", 999999L))
    both(fl(data))
  }

  test("two-phase == window in the single-language skew regime it exists for") {
    val rng = new scala.util.Random(13)
    val data = (0 until 5000).map(i => (i.toLong, "only", rng.nextInt(1000001).toLong))
    both(fl(data))
  }

  test("the registered query switches spellings on the scan-size knob") {
    val window = rows(graft.SparkEntry.queries("fluency_buckets")(spark, Dir))
    // the harness corpus is far below the threshold; a scan above it
    // takes the two-phase spelling
    val twoPhase = rows(TextAnalysis.fluencyTerciled(TextAnalysis.bigramFluency(spark, Dir),
      TextAnalysis.FluencyTwoPhaseMinBytes + 1))
    assert(twoPhase == window)
  }
}
