package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.UserSnapshot

/** S11 REST callout shape + S9b nested-subdocument merge. */
class SinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("rest_callout_sink: one idempotent POST per changed-claims row, failures counted not thrown") {
    import spark.implicits._
    // task closures are serialized even in local mode — record through an
    // accumulator (merged back to the driver), not a captured collection
    val calls = spark.sparkContext.collectionAccumulator[String]("rest-calls")
    val transport: RestSink.Transport = (url, body) => {
      calls.add(s"$url  $body")
      if (body.contains("\"localId\":\"13\"")) 500 else 200
    }
    val current = Seq(UserSnapshot(1L, new Timestamp(100), "alice", false, false)).toDF()
    val incoming = Seq(
      UserSnapshot(1L, new Timestamp(200), "alice", false, true), // gains ranger
      UserSnapshot(13L, new Timestamp(200), "mallory", true, false) // new; transport 500s
    ).toDS()
    val claims = UserPipeline.changedClaims(UserPipeline.cdcIngest(incoming, current))
    val url = "https://id.example/accounts:update"
    val failed = RestSink.postClaims(claims, url, transport)
    assert(failed == 1)
    import scala.jdk.CollectionConverters._
    val bodies = calls.value.asScala.toSeq.sorted
    assert(bodies == Seq(
      s"""$url  {"localId":"13","customAttributes":"{\\"username\\":\\"mallory\\",\\"role\\":\\"farmhand\\"}"}""",
      s"""$url  {"localId":"1","customAttributes":"{\\"username\\":\\"alice\\",\\"role\\":\\"ranger\\"}"}""").sorted)
  }

  test("merge recovers the snapshot after a crash between the two swap renames") {
    import spark.implicits._
    val path = Files.createTempDirectory("crash").toString + "/state"
    MergeSink.merge(Seq((1L, "a")).toDF("id", "v"), Seq("id"), path, MergeSink.Upsert)
    // simulate dying after live→.old but before tmp→live: the last
    // complete snapshot is stranded at .old and no live dir exists
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path), java.nio.file.Paths.get(path + ".old"))
    assert(!new java.io.File(path).exists())
    // next merge must resurrect .old as the state and apply on top of it
    MergeSink.merge(Seq((2L, "b")).toDF("id", "v"), Seq("id"), path, MergeSink.Upsert)
    val rows = spark.read.parquet(path).as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b")),
      "the pre-crash row must survive recovery, not be clobbered by a fresh-store write")
    assert(!new java.io.File(path + ".old").exists())
  }

  test("mergeStruct: subdocument fields merge without clobbering siblings (firestore mod/flags)") {
    import spark.implicits._
    val path = Files.createTempDirectory("substruct").toString + "/docs"
    def doc(id: String, content: Option[String], flags: Option[Int], ts: Option[Long]) =
      Seq((id, content, flags, ts)).toDF("id", "content", "flags0", "ts0")
        .select(col("id"), col("content"),
          struct(col("flags0").as("flags"), col("ts0").as("flag_ts")).as("mod"))

    // initial doc: content, empty mod subdoc
    MergeSink.mergeStruct(doc("m1", Some("hello"), None, None), Seq("id"), path, "mod")
    // flags subdoc write: content absent (null) — must NOT clobber it
    MergeSink.mergeStruct(doc("m1", None, Some(3), Some(111L)), Seq("id"), path, "mod")
    val s1 = spark.read.parquet(path).select("id", "content", "mod.flags", "mod.flag_ts")
      .as[(String, String, Option[Int], Option[Long])].collect().toSeq
    assert(s1 == Seq(("m1", "hello", Some(3), Some(111L))))

    // second subdoc write updates only the timestamp — flags persists
    MergeSink.mergeStruct(doc("m1", None, None, Some(222L)), Seq("id"), path, "mod")
    // and an unknown key inserts whole
    MergeSink.mergeStruct(doc("m2", Some("new"), Some(1), Some(5L)), Seq("id"), path, "mod")
    val s2 = spark.read.parquet(path).select("id", "content", "mod.flags", "mod.flag_ts")
      .as[(String, String, Option[Int], Option[Long])].collect().sortBy(_._1).toSeq
    assert(s2 == Seq(
      ("m1", "hello", Some(3), Some(222L)),
      ("m2", "new", Some(1), Some(5L))))
  }

  private def dataFiles(path: String): Seq[java.nio.file.Path] = {
    val listing = Files.list(java.nio.file.Paths.get(path))
    try listing.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally listing.close()
  }

  /** A store of 101 rows in two files (100 rows, then 1), so the next
    * merge carries a file by link. */
  private def twoFileStore(dir: String): String = {
    import spark.implicits._
    val path = s"$dir/state"
    MergeSink.merge((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), path,
      MergeSink.Upsert)
    MergeSink.merge(Seq((100L, "v100")).toDF("id", "v"), Seq("id"), path, MergeSink.Upsert)
    assert(dataFiles(path).size == 2)
    path
  }

  /** A parquet file holding `row`, written apart and moved into `dir`. */
  private def looseFile(row: (Long, String), dir: java.nio.file.Path): Unit = {
    import spark.implicits._
    val out = Files.createTempDirectory("loose").toString + "/f"
    Seq(row).toDF("id", "v").coalesce(1).write.parquet(out)
    dataFiles(out).foreach(f => Files.move(f, dir.resolve(f.getFileName)))
  }

  private def assertOneRowPerKey(path: String, expected: Map[Long, String]): Unit = {
    import spark.implicits._
    val rows = spark.read.parquet(path).as[(Long, String)].collect().toSeq
    assert(rows.map(_._1).distinct.size == rows.size, "one row per key")
    assert(rows.toMap == expected)
    assert(!Files.exists(java.nio.file.Paths.get(path + ".tmp")))
    assert(!Files.exists(java.nio.file.Paths.get(path + ".old")))
  }

  test("a leftover path.tmp holding links and new files is never read") {
    import spark.implicits._
    val path = twoFileStore(Files.createTempDirectory("crash-tmp").toString)
    // a crash while the next snapshot was being assembled: links to the
    // live files and a new file of the unfinished merge
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    Files.createDirectories(tmp)
    dataFiles(path).foreach(f => Files.createLink(tmp.resolve(f.getFileName), f))
    looseFile((0L, "STALE"), tmp)
    MergeSink.merge(Seq((101L, "v101")).toDF("id", "v"), Seq("id"), path, MergeSink.Upsert)
    assertOneRowPerKey(path, (0L to 101L).map(i => i -> s"v$i").toMap)
  }

  test("a crash between the two renames, with the next snapshot's links in path.tmp, recovers") {
    import spark.implicits._
    val path = twoFileStore(Files.createTempDirectory("crash-links").toString)
    val live = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    // the unfinished merge assembled its snapshot (links plus a new file
    // updating key 0), moved live→.old, and died before tmp→live
    Files.createDirectories(tmp)
    dataFiles(path).foreach(f => Files.createLink(tmp.resolve(f.getFileName), f))
    looseFile((0L, "lost"), tmp)
    Files.move(live, java.nio.file.Paths.get(path + ".old"))
    // the replayed batch merges onto the recovered last snapshot
    MergeSink.merge(Seq((0L, "replayed")).toDF("id", "v"), Seq("id"), path, MergeSink.Upsert)
    assertOneRowPerKey(path, (1L to 100L).map(i => i -> s"v$i").toMap + (0L -> "replayed"))
  }

  test("200 one-row merges leave O(log rows) files") {
    import spark.implicits._
    val path = Files.createTempDirectory("filecount").toString + "/state"
    (0L until 200L).foreach { i =>
      MergeSink.merge(Seq((i, s"v$i")).toDF("id", "v"), Seq("id"), path, MergeSink.Upsert)
    }
    assertOneRowPerKey(path, (0L until 200L).map(i => i -> s"v$i").toMap)
    val files = dataFiles(path).size
    assert(files <= 1 + (math.log(200) / math.log(2)).toInt, s"$files files for 200 rows")
  }
}
