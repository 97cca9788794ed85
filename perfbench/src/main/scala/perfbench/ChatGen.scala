package perfbench

import java.time.{Instant, ZonedDateTime}
import java.time.format.DateTimeFormatter
import java.util.Locale
import scala.collection.mutable.ArrayBuffer
import graft.sources.{ChatMessage, HtmlParsers}

/** Seeded chat-room generator. It keeps its own message log (what each
  * store row must hold after the pages are drained) and renders the page
  * a room shows at each archived second, in the grammar
  * `HtmlParsers.parseChat` accepts: newest first, the room's latest
  * `PageMsgs` messages, deletions shown as `redstripes` + `undelChat`.
  *
  * Per room-second: 0, 1 or 2 new messages (mean 1); with probability
  * `DeleteP` one visible, not yet deleted message is deleted. Of the new
  * messages, `MentionP` carry an @-mention link and `TagP` an inline item
  * image. History rows precede the archive and are preloaded live; a
  * deletion only ever hits a message some page already showed live.
  *
  * The traffic mix (the 0/1/2 split, `DeleteP`, `MentionP`, `TagP`) is an
  * unverified assumption, not a measurement of the reference's rooms: no
  * captured chat pages are in the repository to measure it from.
  */
final class ChatGen(seed: Long, val rooms: Int, val seconds: Int, val historyRows: Int) {
  import ChatGen._

  /** Archive start; history lies in the six hours before it. */
  val start: Instant = Instant.parse("2024-07-10T15:00:00Z")
  /** The parse clock: one minute after the last archived fetch. */
  val now: Instant = start.plusSeconds(seconds + 60L)

  final class Msg(val room: Int, val id: Long, val tsSec: Long, val emblem: String,
      val user: String, val raw: String, val content: String,
      val mentions: Seq[String], val history: Boolean) {
    var deletedAt: Int = Int.MaxValue // archived second of the deletion
    var lastShown: Int = -1 // last archived second a page showed it
    def deleted: Boolean = deletedAt != Int.MaxValue
    def roomName: String = ChatGen.roomName(room)
    lazy val live: String = block(id, tsSec, emblem, user, raw, deleted = false)
    lazy val dead: String = block(id, tsSec, emblem, user, raw, deleted = true)
  }

  private val rng = new scala.util.Random(seed)
  private var nextId = 1L
  val history = ArrayBuffer.empty[Msg]
  val archived = ArrayBuffer.empty[Msg]
  /** pages(s)(r): the page room r shows at archived second s. */
  val pages: Array[Array[String]] = Array.ofDim[String](seconds, rooms)
  /** Messages on each page (all parsed from it). */
  var parsedMessages = 0L
  var deletions = 0

  private def newMsg(room: Int, tsSec: Long, hist: Boolean): Msg = {
    val words = Seq.fill(3 + rng.nextInt(8))(Vocab(rng.nextInt(Vocab.size)))
    val user = s"user${rng.nextInt(500)}"
    val emblem = s"e${rng.nextInt(40)}.png"
    val mention = if (rng.nextDouble() < MentionP) Some(s"user${rng.nextInt(500)}") else None
    val tag = if (rng.nextDouble() < TagP) Some(rng.nextInt(900) + 100) else None
    val text = words.mkString(" ")
    val raw = mention.fold("")(m =>
      s"""<a class="close-panel" href="profile.php?user_name=$m" style="color:teal">@$m</a> """) +
      text + tag.fold("")(t => s""" <img src="/img/items/$t.png" class="itemimg" />""")
    val content = mention.fold("")(m => s"@$m: ") + text +
      tag.fold("")(t => s""" <img class="itemimg" src="/img/items/$t.png">""")
    val m = new Msg(room, nextId, tsSec, emblem, user, raw, content, mention.toSeq, hist)
    nextId += 1
    m
  }

  // history: historyRows messages over the six hours before `start`
  locally {
    val span = 6 * 3600
    val times = Seq.fill(historyRows)(
      (start.getEpochSecond - 1 - rng.nextInt(span), rng.nextInt(rooms))).sorted
    times.foreach { case (t, r) => history += newMsg(r, t, hist = true) }
  }
  private val visible: Array[ArrayBuffer[Msg]] = Array.fill(rooms)(ArrayBuffer.empty[Msg])
  history.foreach(m => visible(m.room) += m)
  for (r <- 0 until rooms) visible(r) = visible(r).takeRight(PageMsgs)

  // the archive: each second every room gets its events, then its page
  for (s <- 0 until seconds; r <- 0 until rooms) {
    val v = visible(r)
    if (rng.nextDouble() < DeleteP) {
      // only messages a page already showed live: a deletion is a flip
      val cands = v.filter(m => !m.deleted && m.lastShown >= 0)
      if (cands.nonEmpty) {
        cands(rng.nextInt(cands.size)).deletedAt = s
        deletions += 1
      }
    }
    val k = rng.nextDouble() match {
      case x if x < 0.25 => 0
      case x if x < 0.75 => 1
      case _ => 2
    }
    (0 until k).foreach { _ =>
      val m = newMsg(r, start.getEpochSecond + s, hist = false)
      archived += m
      v += m
    }
    if (v.size > PageMsgs) v.remove(0, v.size - PageMsgs)
    v.foreach(_.lastShown = s)
    parsedMessages += v.size
    pages(s)(r) = v.reverseIterator.map(m => if (m.deletedAt <= s) m.dead else m.live)
      .mkString("\n")
  }

  /** The archive file of room r at second s, and its modification time:
    * fetch order, one millisecond apart within a second. */
  def fileName(s: Int, r: Int): String = f"${roomName(r)}__$s%06d.html"
  def fetchedAtMs(s: Int, r: Int): Long = start.toEpochMilli + s * 1000L + r

  /** What the message store must hold for `m` after the drain. A row's
    * deletion is seen only if a page showed it after it happened. */
  def expected(m: Msg): ChatMessage = {
    val del = m.deleted && m.deletedAt <= m.lastShown
    val ts = new java.sql.Timestamp(m.tsSec * 1000L)
    ChatMessage(m.roomName, m.id.toString, ts, m.emblem, m.user, m.content, 0,
      del, if (del) Some(ts) else None)
  }

  /** History rows as preloaded into both stores. */
  def preload(m: Msg): ChatMessage = ChatMessage(m.roomName, m.id.toString,
    new java.sql.Timestamp(m.tsSec * 1000L), m.emblem, m.user, m.content, 0, false, None)

  def all: Seq[Msg] = history.toSeq ++ archived.toSeq
}

object ChatGen {
  val PageMsgs = 100
  // assumed shares, see the class comment
  val DeleteP = 0.05
  val MentionP = 0.15
  val TagP = 0.15
  private val TimeFmt = DateTimeFormatter.ofPattern("hh:mm:ss a", Locale.US)
  private val Vocab: IndexedSeq[String] = ("hello anyone selling iron ore wood stone " +
    "trade want buy sell price fish bait farm crop corn wheat grape tomato " +
    "thanks good luck today tomorrow event quest level explore craft pet " +
    "friend mail steak gold silver market tower orchard cow pig").split(" ").toIndexedSeq
  def roomName(r: Int): String = f"room$r%02d"

  /** One message as a chat page shows it. */
  def block(id: Long, tsSec: Long, emblem: String, user: String, raw: String,
      deleted: Boolean): String =
    s"""<div class="chat-txt  ${if (deleted) "redstripes" else ""}" >""" +
      s"""<span style="color:gray">${TimeFmt.format(ZonedDateTime.ofInstant(
        Instant.ofEpochSecond(tsSec), HtmlParsers.ServerTz))}</span> """ +
      s"""<div class="chip-media"><img src="/img/emblems/$emblem" data-username="$user" """ +
      s"""class="emb"></div> <a href="javascript:${if (deleted) "undelChat" else "delChat"}""" +
      s"""($id)">x</a><br><span style="color:#222">$raw</span></div>"""
}
