package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.{Fixtures, Mail, RawPage, UserSnapshot}

/** End-to-end soak of the composed pipelines across MANY micro-batches
  * with duplicate and out-of-order (stale re-delivered) inputs — the
  * at-least-once delivery regime the reference actually lives in
  * (scrapers/chat.py:158-171 re-scrapes overlapping pages every 6 s;
  * db/chat.py:13-26 makes the writes idempotent). The assertions are
  * exactly-once EFFECTS: store row counts never grow on replay, replays
  * change nothing, and every state transition lands exactly once.
  */
class StreamingSoakSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Now = Instant.parse("2022-04-17T23:59:59Z")

  /** Store snapshot as comparable rows, column-sorted. */
  private def snapshot(path: String): Seq[String] =
    spark.read.parquet(path).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("chat soak: 5 micro-batches with dup + stale pages — A4 diff + S8/S9 merges stay exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("chatsoak").toString
    val msgStore = s"$dir/messages"
    val docStore = s"$dir/docs"

    val page1 = Fixtures.load("chat_complex") // messages 5363757 + 5363775
    val page2 = page1 // re-scrape with 5363775 deleted
      .replace("""<div class="chat-txt  " ><span style="color:gray">08:28:15 PM</span>""",
        """<div class="chat-txt  redstripes" ><span style="color:gray">08:28:15 PM</span>""")
      .replace("javascript:delChat(5363775)", "javascript:undelChat(5363775)")

    val in = MemoryStream[RawPage]
    val q = ChatPipeline.start(in.toDS(), Now, msgStore, docStore, intervalMs = 10)
    try {
      def batch(pages: String*): Unit = {
        in.addData(pages.map(p => RawPage("global", p, Timestamp.from(Now))))
        q.processAllAvailable()
      }
      // b1: initial scrape
      batch(page1)
      assert(spark.read.parquet(msgStore).count() == 2)
      val afterB1 = snapshot(msgStore)

      // b2: duplicate page within the batch AND a replay of b1 — no effect
      batch(page1, page1)
      assert(snapshot(msgStore) == afterB1, "replayed pages must not change the store")
      assert(snapshot(docStore).size == 2)

      // b3: deletion re-scrape — exactly one transition, stamped
      batch(page2)
      val deleted = spark.read.parquet(msgStore).filter("id = '5363775'").collect().head
      assert(deleted.getAs[Boolean]("deleted"))
      val stamp = deleted.getAs[Timestamp]("deletedTs")
      assert(stamp != null)

      // b4: stale page1 re-delivered AFTER the deletion (out-of-order).
      // Last-delivered-wins, same as the reference diffing against its DB:
      // the message un-deletes, but the known deletion stamp is carried
      // forward (chat.py:162-163), not lost.
      batch(page1)
      val undeleted = spark.read.parquet(msgStore).filter("id = '5363775'").collect().head
      assert(!undeleted.getAs[Boolean]("deleted"))
      assert(undeleted.getAs[Timestamp]("deletedTs") == stamp, "stamp must survive the stale replay")

      // b5: deletion page again — back to deleted, still exactly 2 rows
      batch(page2)
      val again = spark.read.parquet(msgStore).filter("id = '5363775'").collect().head
      assert(again.getAs[Boolean]("deleted"))
      assert(spark.read.parquet(msgStore).count() == 2, "upserts must never duplicate rows")
      assert(spark.read.parquet(docStore).count() == 2)
      val unchanged = spark.read.parquet(msgStore).filter("id = '5363757'").collect().head
      assert(!unchanged.getAs[Boolean]("deleted"), "the untouched message must ride through all 5 batches")
    } finally q.stop()
  }

  test("user CDC soak: replayed snapshots emit nothing, each change lands once (A1+A3+S9)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Files.createTempDirectory("usersoak").toString + "/users"
    val emptyCurrent = spark.emptyDataset[UserSnapshot].toDF()
    val emissions = ArrayBuffer[Long]()

    def snap(id: Long, ts: Long, name: String, fh: Boolean = false) =
      UserSnapshot(id, new Timestamp(ts), name, fh, isRanger = false)

    val in = MemoryStream[UserSnapshot]
    val q = Streams.pollingQuery(in.toDS(), 10, "user-soak") { (batch, _) =>
      val current =
        if (new java.io.File(store).exists()) spark.read.parquet(store) else emptyCurrent
      val pairs = UserPipeline.cdcIngest(batch.as[UserSnapshot], current).cache()
      try {
        emissions += pairs.count()
        MergeSink.merge(
          pairs.select(col("userId"), col("new_ts").as("ts"),
            col("new_username").as("username"), col("new_isFarmhand").as("isFarmhand"),
            col("new_isRanger").as("isRanger")),
          Seq("userId"), store, MergeSink.Upsert)
      } finally pairs.unpersist()
    }
    try {
      def batch(snaps: UserSnapshot*): Unit = { in.addData(snaps); q.processAllAvailable() }

      batch(snap(1, 100, "alice"), snap(2, 100, "bob")) // 2 new users
      // replay both + a within-batch duplicate: suppressed entirely
      batch(snap(1, 100, "alice"), snap(1, 100, "alice"), snap(2, 100, "bob"))
      // promote alice (and replay bob): exactly one emission
      batch(snap(1, 300, "alice", fh = true), snap(2, 200, "bob"))
      // stale alice v1 re-delivered: value differs from store → re-emitted
      // (last-delivered-wins, the reference's diff-vs-DB behavior)
      batch(snap(1, 200, "alice"))

      assert(emissions.toSeq == Seq(2, 0, 1, 1))
      val fin = spark.read.parquet(store).as[UserSnapshot].collect().sortBy(_.userId).toSeq
      assert(fin == Seq(snap(1, 200, "alice"), snap(2, 100, "bob")),
        s"bob keeps ts=100 (replays suppressed); alice reflects the last delivery: $fin")
    } finally q.stop()
  }

  test("bot soak: the seen-mail store (S7 insert-ignore) replies to each mail exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = Files.createTempDirectory("botsoak").toString + "/mails"
    val users = Seq(("alice", Option.empty[String])).toDF("username", "firebase_uid")
    val uid28 = "b" * 28
    val replies = ArrayBuffer[(String, String)]()

    def mail(id: Long, from: String, body: String) = Mail(id, from, new Timestamp(0), "s", body)

    val in = MemoryStream[Mail]
    val q = Streams.pollingQuery(in.toDS(), 10, "bot-soak") { (batch, _) =>
      // the mailbox seen-cache (scrapers/mailbox.py:101): only mails not
      // already in the store are dispatched, then the batch is merged
      // insert-ignore so replays can never re-trigger a handler
      val fresh =
        if (new java.io.File(store).exists())
          batch.join(spark.read.parquet(store).select("id"), Seq("id"), "left_anti")
        else batch
      replies ++= Bots.dispatch(fresh.as[Mail], users)
        .select("username", "reply").as[(String, String)].collect()
      MergeSink.merge(batch, Seq("id"), store, MergeSink.InsertIgnore)
    }
    try {
      in.addData(mail(1, "alice", "ping")); q.processAllAvailable()
      // replay mail 1, plus one invalid and one valid firebase link
      in.addData(mail(1, "alice", "ping"), mail(2, "carol", "firebase nope"),
        mail(3, "dave", s"firebase $uid28"))
      q.processAllAvailable()
      // replay everything
      in.addData(mail(1, "alice", "ping"), mail(2, "carol", "firebase nope"),
        mail(3, "dave", s"firebase $uid28"))
      q.processAllAvailable()

      assert(replies.toSeq == Seq(
        ("alice", "pong"),
        ("carol", "That doesn't look like a Firebase user ID")),
        s"each reply exactly once, valid links reply nothing: $replies")
      assert(spark.read.parquet(store).count() == 3)
    } finally q.stop()
  }
}
