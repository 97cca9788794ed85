package graft.sources

import java.time.Instant
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._

/** A fetched page: where it came from + raw bytes-as-string.
  * `room`/`key` is the scrape key (chat room, username, mail id). */
final case class RawPage(key: String, html: String, fetchedAt: java.sql.Timestamp)

/** Distributed form of the S2–S6 scans: `Dataset[RawPage] → flatMap(parse)`.
  *
  * The unit of parallelism is the PAGE (the reference's unit of work is
  * one HTTP response, scrapers/chat.py:124-157): parsing 100 TB of
  * archived pages distributes across partitions with zero shuffle — the
  * sequential logic inside one page (day-rollover state walk) is
  * intentionally per-page, exactly like the reference. Typed Datasets
  * keep the parsers unit-testable off-cluster.
  *
  * The dated scans parse each page against its own `fetchedAt`, the
  * clock the reference parses each response against (day and year
  * rollovers, scrapers/chat.py:36-51,100-105). Their `now` is only the
  * clock of a page whose fetch time is null.
  */
object Scans {
  def chatScan(pages: Dataset[RawPage], now: Instant): Dataset[ChatMessage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap(p => HtmlParsers.parseChat(p.key, p.html, clock(p, now)))
  }

  def flagsScan(pages: Dataset[RawPage], now: Instant): Dataset[ChatMessage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap(p => HtmlParsers.parseFlags(p.key, p.html, clock(p, now)))
  }

  def profileScan(pages: Dataset[RawPage], now: Instant): Dataset[UserSnapshot] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.map(p => HtmlParsers.parseProfile(p.key, p.html, clock(p, now)))
  }

  def onlineScan(pages: Dataset[RawPage]): Dataset[String] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap(p => HtmlParsers.parseOnline(p.html))
  }

  def mailboxScan(pages: Dataset[RawPage]): Dataset[MailboxRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap(p => HtmlParsers.parseMailbox(p.html))
  }

  def messageScan(pages: Dataset[RawPage], now: Instant): Dataset[Mail] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.map(p => HtmlParsers.parseMessage(p.key.toLong, p.html, clock(p, now)))
  }

  /** The clock page `p` is parsed against: its fetch time, else `now`. */
  private def clock(p: RawPage, now: Instant): Instant =
    Option(p.fetchedAt).fold(now)(_.toInstant)

  /** Archived-page backfill: a directory tree of captured pages as a
    * distributed `Dataset[RawPage]`, page-per-file via the binaryFile
    * source — the path a 100 TB page archive takes into the SAME
    * parsers the live stream uses (each scan above is source-agnostic).
    * The scrape key is the file name's prefix before "__" (archive
    * convention `<key>__<fetch-id>.html`), or the bare stem when there
    * is none; fetchedAt is the file's modification time, so a copy of
    * the archive that does not keep mtimes dates every page to the copy.
    * Reading is file-parallel with no shuffle; pages parse where they are
    * read.
    */
  def readArchive(spark: SparkSession, dir: String): Dataset[RawPage] = {
    import spark.implicits._
    toPages(spark.read.format("binaryFile").load(dir))
  }

  /** Streaming form of [[readArchive]]: the archive as an UNBOUNDED
    * source — files appearing in the tree become micro-batches, and
    * with `Trigger.AvailableNow` the whole backlog replays through the
    * live pipeline in bounded batches (`maxFilesPerTrigger`) and the
    * query stops — the backfill mode for a 100 TB page archive: same
    * parsers, same sinks, same exactly-once merge semantics, bounded
    * memory per batch. */
  def streamArchive(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1000): Dataset[RawPage] =
    toPages(spark.readStream.format("binaryFile")
      // a StructType, not a DDL string: parsing one initialises the SQL
      // parser, which no other step of a stream's start needs
      .schema(new StructType().add("path", StringType).add("modificationTime", TimestampType)
        .add("length", LongType).add("content", BinaryType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir))

  private def toPages(files: org.apache.spark.sql.DataFrame): Dataset[RawPage] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select("path", "modificationTime", "content")
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .map { case (path, mtime, content) =>
        val stem = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".html")
        val key = stem.indexOf("__") match {
          case -1 => stem
          case i => stem.substring(0, i)
        }
        RawPage(key, new String(content, "UTF-8"), mtime)
      }
  }
}
