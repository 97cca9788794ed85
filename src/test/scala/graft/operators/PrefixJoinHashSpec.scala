package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins the r21 hash-typed prefix join's one assumption: the corpus's
  * distinct 3-gram shingles are COLLISION-FREE under the h60 window
  * hash, so every set count the long-typed verify computes equals the
  * string-set count the oracle computes independently. (The
  * exact-complete candidate guarantee itself is order-agnostic — any
  * canonical total order yields a superset of the qualifying pairs —
  * so the hash respelling can only diverge through a collision, which
  * this spec makes loud instead of silent.) */
class PrefixJoinHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def collisionCheck(dir: String): Unit = {
    val sh = Dedup.withNearDupes(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(words)-3)," +
          " i -> concat_ws(' ', words[i], words[i+1], words[i+2]))")).as("s"))
      .withColumn("h", expr("graft_winhash(split(s, ' '), 3)[0]"))
    val strings = sh.select("s").distinct().count()
    val hashes = sh.select("h").distinct().count()
    assert(strings == hashes,
      s"$dir: h60 collision among distinct shingles ($strings strings vs " +
        s"$hashes hashes) — the hash-typed prefix join would diverge " +
        "from the string oracle here")
  }

  test("distinct shingles are h60-collision-free on the near-dup corpora") {
    collisionCheck("/root/testdata/sf0.001")
    collisionCheck("/root/testdata/sf0.01")
  }

  test("the hash-typed prefix join matches the pinned string-shingle spelling") {
    // independent STRING spelling of the same definition, built inline
    // (the shape the pre-r21 production code used), compared row-for-row
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val TauNum = 6L
    val TauDen = 10L
    val sh = Dedup.withNearDupes(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(words)-3)," +
          " i -> concat_ws(' ', words[i], words[i+1], words[i+2]))"))).as("shingle"))
    val dfRel = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val ranked = sh.join(dfRel, "shingle").join(sz, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
    val prefix = ranked
      .filter(col("rn") <=
        col("sz") - expr(s"(sz * $TauNum + $TauDen - 1) div $TauDen") + 1)
      .select(col("shingle"), col("doc_id"), col("sz"), col("rn"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.sz") * TauNum <= col("b.sz") * TauDen &&
        col("b.sz") * TauNum <= col("a.sz") * TauDen)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("hs"), count(lit(1)).as("szz"))
    val expected = cands
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("szz").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("szz").as("sb")), "doc_b")
      .withColumn("inter", expr("graft_inter_sorted(ha, hb)"))
      .withColumn("union_n", col("sa") + col("sb") - col("inter"))
      .filter(col("inter") * TauDen >= col("union_n") * TauNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_n"),
        expr("(inter * 1000) div union_n").as("jacc_permille"))
      .orderBy("doc_a", "doc_b")
      .collect().toSeq
    val got = graft.SparkEntry.queries("jaccard_prefix_join")(spark, dir)
      .collect().toSeq
    assert(got == expected, "hash-typed prefix join diverged from the string spelling")
    graft.Sessions.isolate(spark)
    ()
  }
}
