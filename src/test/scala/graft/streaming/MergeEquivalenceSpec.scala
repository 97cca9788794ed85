package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Touched-file merges against the whole-snapshot algorithm they
  * replaced, kept here as the oracle: over one seeded sequence of
  * batches (updates, inserts, replays, in-batch duplicate keys, empty
  * batches) each mode must leave the same rows, carry every untouched
  * large file as the same inode, and leave the file set of the snapshot
  * as it was on an empty batch. In-batch duplicates repeat a row whole,
  * so which copy deduplication keeps cannot change the result. */
class MergeEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Keys = Seq("k")
  /** Rows per file of the initial store: more than twice every batch and
    * everything the batches insert, so no fold reaches these files. */
  private val InitialFileRows = 400

  /** The whole-snapshot merge: the new snapshot from the old one. */
  private def oracle(state: DataFrame, batch: DataFrame, mode: Option[MergeSink.Mode]): DataFrame = {
    val deduped = batch.dropDuplicates(Keys)
    val stateKeys = state.select(Keys.map(col): _*)
    val batchKeys = deduped.select(Keys.map(col): _*)
    mode match {
      case Some(MergeSink.InsertIgnore) =>
        state.unionByName(deduped.join(stateKeys, Keys, "left_anti"))
      case Some(MergeSink.UpdateOnly) =>
        state.join(batchKeys, Keys, "left_anti")
          .unionByName(deduped.join(stateKeys, Keys, "left_semi"))
      case Some(MergeSink.Upsert) =>
        state.join(batchKeys, Keys, "left_anti").unionByName(deduped)
      case None => // mergeStruct on "mod"
        val st = state.select(col("k"), col("v").as("_s_v"), col("mod").as("_s_sub"))
        val bt = deduped.select(col("k"), col("v").as("_b_v"), col("mod").as("_b_sub"))
        val mergedSub = struct(Seq("flags", "flag_ts").map(f =>
          coalesce(col(s"_b_sub.$f"), col(s"_s_sub.$f")).as(f)): _*)
        st.join(bt, Keys, "full_outer").select(col("k"),
          coalesce(col("_b_v"), col("_s_v")).as("v"),
          when(col("_b_sub").isNull, col("_s_sub"))
            .when(col("_s_sub").isNull, col("_b_sub"))
            .otherwise(mergedSub).as("mod"))
    }
  }

  private def rows(k: Long, v: Option[String], flags: Option[Int], ts: Option[Long]): Row =
    Row(k, v.orNull, Row(flags.map(Int.box).orNull, ts.map(Long.box).orNull))

  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "k BIGINT, v STRING, mod STRUCT<flags: INT, flag_ts: BIGINT>")

  private def df(rs: Seq[Row], slices: Int = 2): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, slices), schema)

  /** The seeded batch sequence: batch i updates keys of the first initial
    * file and of earlier inserts, inserts new keys, repeats a row whole;
    * every fourth batch replays the one before and every fifth is empty. */
  private def batches(seed: Long): Seq[Seq[Row]] = {
    val rng = new scala.util.Random(seed)
    var next = 4L * InitialFileRows
    val out = Seq.newBuilder[Seq[Row]]
    var prev = Seq.empty[Row]
    for (i <- 0 until 10) {
      val b =
        if (i % 5 == 4) Seq.empty
        else if (i % 4 == 3) prev
        else {
          def opt[T](t: => T) = if (rng.nextInt(3) == 0) None else Some(t)
          val updated = Seq.fill(1 + rng.nextInt(4))(
            if (next > 4L * InitialFileRows && rng.nextBoolean())
              4L * InitialFileRows + rng.nextInt((next - 4L * InitialFileRows).toInt)
            else rng.nextInt(InitialFileRows).toLong).distinct
          val inserted = Seq.fill(rng.nextInt(4)) { next += 1; next - 1 }
          val fresh = (updated ++ inserted).map(k =>
            rows(k, opt(s"b$i-$k"), opt(rng.nextInt(100)), opt(rng.nextLong())))
          fresh ++ fresh.take(1 + rng.nextInt(2))
        }
      out += b
      prev = b
    }
    out.result()
  }

  private def dataFiles(path: String): Seq[Path] = {
    val listing = Files.list(Paths.get(path))
    try listing.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally listing.close()
  }

  private def check(name: String, mode: Option[MergeSink.Mode]): Unit = {
    val dir = Files.createTempDirectory(s"mergeq-$name")
    val path = dir.resolve("store").toString
    val initial = (0L until 4L * InitialFileRows).map(k =>
      rows(k, Some(s"init$k"), if (k % 3 == 0) None else Some(k.toInt), Some(k)))
    // four key-ranged files of InitialFileRows rows each (one per slice)
    MergeSink.writeSnapshot(df(initial, slices = 4), path)
    assert(dataFiles(path).size == 4)
    var expected = df(initial).collect().toSet
    batches(seed = 17).zipWithIndex.foreach { case (b, i) =>
      val keys = b.map(_.getLong(0)).toSet
      val before = dataFiles(path)
      // hold each file by a link of our own, so its inode outlives the swap
      val held = Files.createTempDirectory(dir, s"held$i")
      before.foreach(f => Files.createLink(held.resolve(f.getFileName), f))
      val byFile = spark.read.parquet(path)
        .select(col("k"), col("_metadata.file_name")).collect()
        .groupBy(_.getString(1)).map { case (f, rs) => f -> rs.map(_.getLong(0)).toSet }
      mode match {
        case Some(m) => MergeSink.merge(df(b), Keys, path, m)
        case None => MergeSink.mergeStruct(df(b), Keys, path, "mod")
      }
      expected = oracle(spark.createDataFrame(expected.toSeq.asJava, schema), df(b), mode)
        .collect().toSet
      val got = spark.read.parquet(path).select("k", "v", "mod").collect().toSeq
      assert(got.map(_.getLong(0)).distinct.size == got.size, s"$name batch $i: duplicate keys")
      assert(got.toSet == expected, s"$name batch $i: differs from the whole-snapshot merge")
      val after = dataFiles(path)
      if (b.isEmpty)
        assert(after.map(_.getFileName).toSet == before.map(_.getFileName).toSet &&
          after.forall(f => Files.isSameFile(f, held.resolve(f.getFileName))),
          s"$name batch $i: an empty batch changed the snapshot's files")
      val untouchedLarge = byFile.collect {
        case (f, ks) if ks.size >= InitialFileRows && (ks & keys).isEmpty => f
      }
      assert(untouchedLarge.nonEmpty)
      untouchedLarge.foreach { f =>
        val now = Paths.get(path).resolve(f)
        assert(Files.exists(now) && Files.isSameFile(now, held.resolve(f)),
          s"$name batch $i: untouched file $f was not carried as the same inode")
      }
      byFile.collect { case (f, ks) if (ks & keys).nonEmpty => f }.foreach { f =>
        assert(!Files.exists(Paths.get(path).resolve(f)), s"$name batch $i: touched file $f kept")
      }
      // a touched large file's survivors are rewritten apart from the
      // batch's rows, so no file outgrows the initial ones
      val fileRows = spark.read.parquet(path).groupBy("_metadata.file_name").count()
        .collect().map(_.getLong(1))
      assert(fileRows.forall(_ <= InitialFileRows), s"$name batch $i: file rows ${fileRows.mkString(",")}")
    }
  }

  test("Upsert: touched-file merge == whole-snapshot merge") { check("upsert", Some(MergeSink.Upsert)) }
  test("UpdateOnly: touched-file merge == whole-snapshot merge") {
    check("update", Some(MergeSink.UpdateOnly))
  }
  test("InsertIgnore: touched-file merge == whole-snapshot merge") {
    check("insert", Some(MergeSink.InsertIgnore))
  }
  test("mergeStruct: touched-file merge == whole-snapshot merge") { check("struct", None) }
}
