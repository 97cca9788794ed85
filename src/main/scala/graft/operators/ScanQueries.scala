package graft.operators

import java.time.Instant
import org.apache.spark.sql.SparkSession
import graft.sources.{RawPage, Scans}

/** S2–S6 HTML scans registered as driver-checkable queries.
  *
  * HTML parsing has no SQL-COMPUTABLE oracle, so each scan's oracle is a
  * pinned `VALUES`-literal golden (`resources/graft/oracles/<name>.sql`,
  * emitted by [[graft.EmitScanOracles]]) — the exact expected output as
  * DuckDB SQL, so the driver hash-checks the parsers like every other
  * query. The goldens are grounded independently: the same parses are
  * verified field-by-field in ChatParserSpec/UserParserSpec/
  * MailboxParserSpec against expectations ported from the reference's
  * own tests, and ScanOracleSpec asserts the committed goldens stay in
  * sync with the live parse.
  *
  * Inputs are the reference's captured fixture pages — the only real
  * HTML in the environment. The scan itself is the distributed
  * `Dataset[RawPage] → flatMap(parse)` operator, page-parallel.
  */
object ScanQueries {
  private[graft] val FixtureDir = "/root/reference/test/scrapers/fixtures"
  private val Now = Instant.parse("2022-04-17T23:59:59Z")

  /** The captured page `<name>.html` under [[FixtureDir]]. Where the
    * tree is absent, fails with the one precondition error that names
    * it, not with a `NoSuchFileException` from deep inside a scan. */
  private[graft] def fixturePage(name: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(FixtureDir)
    if (!java.nio.file.Files.isDirectory(dir)) throw new IllegalStateException(
      s"captured fixture pages are missing: $FixtureDir does not exist " +
      "(FIXTURES.md §A lists the pages it must hold)")
    dir.resolve(s"$name.html")
  }

  /** One fixture page as a DISTRIBUTED `Dataset[RawPage]`: the file is
    * staged once into an archive-layout temp dir (`<key>__<name>.html`,
    * driver-side setup exactly like [[archiveDir]]) and then read
    * through the same binaryFile source the 100 TB backfill path uses —
    * page bytes reach executors via the source, never as a
    * driver-captured literal. Its mtime, the page's fetch time, is the
    * frozen clock `at` of its golden test. */
  private lazy val stagedFixtures: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-fixtures")
  private def page(spark: SparkSession, key: String, fixture: String, at: Instant = Now) = {
    val f = stagedFixtures.resolve(s"${key}__$fixture.html")
    // Stage via a dot-prefixed temp (hidden to Spark's file listing) and
    // rename into place: rename(2) is atomic on POSIX, so a concurrent
    // caller — or a lazy re-read of an earlier query's DataFrame — only
    // ever sees a complete file. Copy+REPLACE_EXISTING truncated the
    // destination in place and could expose a partial write.
    val tmp = java.nio.file.Files.createTempFile(stagedFixtures, ".stage-", ".tmp")
    java.nio.file.Files.copy(fixturePage(fixture), tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    tmp.toFile.setLastModified(at.toEpochMilli)
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Scans.readArchive(spark, f.toString)
  }

  val htmlScanChat: Q = (spark, _) =>
    Scans.chatScan(
      page(spark, "help", "chat_help")
        .unionByName(page(spark, "global", "chat_complex"))
        .unionByName(page(spark, "global", "chat_long")), Now)
      .drop("deletedTs").toDF().orderBy("room", "id")

  val htmlScanFlags: Q = (spark, _) =>
    Scans.flagsScan(page(spark, "global", "flags"), Now)
      .drop("deletedTs").toDF().orderBy("id")

  val htmlScanProfile: Q = (spark, _) =>
    Scans.profileScan(page(spark, "RybeR", "profile_ryber"), Now).toDF()

  val htmlScanOnline: Q = (spark, _) => {
    import spark.implicits._
    Scans.onlineScan(
      page(spark, "online", "online").unionByName(page(spark, "staff", "members_staff")))
      .toDF("username").orderBy("username")
  }

  // key must be non-empty here: a "__"-prefixed staged file would be
  // skipped as hidden by Spark's file sources (the `_SUCCESS`
  // convention); mailboxScan never reads the key
  val htmlScanMailbox: Q = (spark, _) =>
    Scans.mailboxScan(page(spark, "mailbox", "mailbox")).toDF().orderBy("id")

  /** S6b mail-detail scan (`message.php`, scrapers/mailbox.py:25-60).
    * Each page anchors to the `now` of its golden test so the yearless
    * timestamp repair runs its real paths: the second fixture is the
    * December-mail-read-in-January rollover (test_mailbox.py:44-47). */
  val htmlScanMessage: Q = (spark, _) => {
    val (june, january) = (Instant.parse("2022-06-16T23:59:59Z"),
      Instant.parse("2023-01-02T00:00:00Z"))
    Scans.messageScan(page(spark, "782186", "message", june), june).toDF()
      .unionByName(Scans.messageScan(page(spark, "781884", "message_year", january),
        january).toDF())
      .orderBy("id")
  }

  /** The archived-page backfill path, end-to-end: fixtures copied once
    * into a page-per-file archive layout (`<key>__<id>.html`), read as
    * a distributed `Dataset[RawPage]` via the binaryFile source
    * ([[Scans.readArchive]]), parsed by the same chat scan as the live
    * stream. Same 105 messages as `html_scan_chat` — proving live and
    * backfill ingest are one code path. */
  private lazy val archiveDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-archive")
    Seq("help__1" -> "chat_help", "global__1" -> "chat_complex", "global__2" -> "chat_long")
      .foreach { case (name, fixture) =>
        val f = dir.resolve(s"$name.html")
        java.nio.file.Files.copy(fixturePage(fixture), f)
        f.toFile.setLastModified(Now.toEpochMilli)
      }
    dir.toString
  }
  val htmlScanArchive: Q = (spark, _) =>
    Scans.chatScan(Scans.readArchive(spark, archiveDir), Now)
      .drop("deletedTs").toDF().orderBy("room", "id")

  /** Each scan with its pinned VALUES-literal golden, one resource file
    * per scan — see object Scaladoc for why these are literals, not
    * computed SQL. */
  val queries: Map[String, Query] = Seq(
    "html_scan_chat" -> htmlScanChat,
    "html_scan_flags" -> htmlScanFlags,
    "html_scan_profile" -> htmlScanProfile,
    "html_scan_online" -> htmlScanOnline,
    "html_scan_mailbox" -> htmlScanMailbox,
    "html_scan_message" -> htmlScanMessage,
    "html_scan_archive" -> htmlScanArchive,
  ).map { case (name, run) =>
    val in = getClass.getResourceAsStream(s"/graft/oracles/$name.sql")
    require(in != null, s"missing oracle golden for $name")
    try name -> Query(run, new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }.toMap
}
