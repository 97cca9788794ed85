package graft.sources

import java.sql.Timestamp
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import Fixtures._

/** S2/S3 golden tests — ported from test/scrapers/test_chat.py. */
class ChatParserSpec extends AnyFunSuite {
  private val Now = Instant.parse("2022-04-17T23:59:59Z") // the reference's freeze_time

  test("parse chat help page: 100 messages, first fully golden (test_chat.py:40-56)") {
    val chats = HtmlParsers.parseChat("help", load("chat_help"), Now)
    assert(chats.length == 100)
    val c = chats.head
    assert(c.room == "help")
    assert(c.id == "5364278")
    assert(c.ts == utc("2022-04-17T01:44:56Z"))
    assert(c.username == "Nubishi")
    assert(c.emblem == "def.png")
    assert(c.content == "How many corn does it take usually to get the Runestone?")
    assert(!c.deleted)
  }

  test("parse complex chat: html5-serialized rich content (test_chat.py:59-83)") {
    val chats = HtmlParsers.parseChat("", load("chat_complex"), Now)
    assert(chats.length == 2)
    assert(chats(0).id == "5363775")
    assert(chats(0).ts == utc("2022-04-17T01:28:15Z"))
    assert(chats(0).username == "coderanger")
    assert(chats(0).emblem == "Octopus96.png")
    assert(chats(0).content == """<i style="color:teal">coderanger also testing this</i>""")
    assert(!chats(0).deleted)
    assert(chats(1).id == "5363757")
    assert(chats(1).ts == utc("2022-04-17T01:27:32Z"))
    assert(chats(1).content ==
      """Testing some chat things, <a class="close-panel" href="item.php?id=48">""" +
      """<img class="itemimgsm" src="/img/items/potato.png"></a>, """ +
      """<a class="external chatlink" href="https://google.com," rel="noopener noreferrer" target="_blank">[LINK]</a> ✨""")
  }

  test("parse deleted chat: redstripes → deleted=true (test_chat.py:86-97)") {
    val chats = HtmlParsers.parseChat("", load("chat_deleted"), Now)
    assert(chats.length == 1)
    assert(chats(0).id == "5365014")
    assert(chats(0).ts == utc("2022-04-17T02:08:22Z"))
    assert(chats(0).username == "coderanger")
    assert(chats(0).content == "A message so I can delete it.")
    assert(chats(0).deleted)
  }

  test("parse long chat: wiki-link soup content (test_chat.py:100-129)") {
    val chats = HtmlParsers.parseChat("", load("chat_long"), Now)
    assert(chats.length == 3)
    assert(chats(0).id == "5365274")
    assert(chats(0).ts == utc("2022-04-17T02:16:37Z"))
    assert(chats(0).content ==
      "I also need a long message to test so: Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do " +
      "eiusmod tempor incididunt ut labore et dolore magna aliqua. Ut enim ad minim veniam, quis nostrud " +
      "exercitation ullamco laboris nisi ut aliquip ex ea commodo consequat. Duis aute irure dolor in reprehenderit " +
      "in voluptate velit esse cillum dolore eu fugiat nulla pariatur. Excepteur sint occaecat cupidatat non " +
      "proident, sunt in culpa qui officia deserunt mollit anim id est laborum.")
    assert(chats(2).id == "5365182")
    assert(chats(2).ts == utc("2022-04-17T02:13:50Z"))
    assert(chats(2).username == "Ffff")
    assert(chats(2).emblem == "StrangeEgg96.png")
    assert(chats(2).content ==
      """@coderanger: Parse this! <a class="no-animation close-panel" """ +
      """href="wiki.php?page=((inferno sphere" style="color:crimson; font-weight:bold; """ +
      """text-decoration:underline">((inferno sphere</a><a class="no-animation close-panel" """ +
      """href="wiki.php?page=))" style="color:crimson; font-weight:bold; """ +
      """text-decoration:underline">))</a> <a class="no-animation close-panel" """ +
      """href="wiki.php?page= [Ffff] " style="color:crimson; font-weight:bold; """ +
      """text-decoration:underline"> [Ffff] </a> ((puff<a class="no-animation close-panel" """ +
      """href="wiki.php?page=" style="color:crimson; font-weight:bold; text-decoration:""" +
      """underline"></a>er)) pea&scy;ock -blam!-""")
  }

  test("day rollover cascades across 3 calendar days (test_chat.py:132-162)") {
    val now = Instant.parse("2022-06-20T05:20:00Z")
    val chats = HtmlParsers.parseChat("", load("chat_day_rollover"), now)
    assert(chats.length == 9)
    val expected = Seq(
      "2022-06-20T04:53:17Z" -> "one", "2022-06-20T04:52:18Z" -> "two",
      "2022-06-20T04:00:30Z" -> "three", "2022-06-20T03:57:41Z" -> "four",
      "2022-06-19T05:11:01Z" -> "five", "2022-06-19T05:05:47Z" -> "six",
      "2022-06-19T03:30:23Z" -> "seven", "2022-06-18T16:29:50Z" -> "eight",
      "2022-06-18T15:33:55Z" -> "nine")
    chats.zip(expected).foreach { case (c, (ts, content)) =>
      assert(c.ts == utc(ts), s"for message '$content'")
      assert(c.content == content)
    }
  }

  test("parse flags page: 59 rows, first two golden (test_chat.py:165-183)") {
    val chats = HtmlParsers.parseFlags("", load("flags"), Now)
    assert(chats.length == 59)
    assert(chats(0).ts == utc("2022-04-17T01:25:32Z"))
    assert(chats(0).username == "k-swag")
    assert(chats(0).content ==
      "Looking for (((Egg 06))? Well look no further. Head over to the Trade chat to purchase this " +
      "in-demand egg for the affordable price of 180g.")
    assert(chats(0).flags == 2)
    assert(chats(1).ts == utc("2022-04-16T22:37:04Z"))
    assert(chats(1).username == "Katiepie")
    assert(chats(1).content == "Plz have straw")
    assert(chats(1).flags == 1)
    // synthetic IDs: deterministic and unique per row (unlike the
    // reference's salted CPython hash(tuple), scrapers/chat.py:109)
    assert(chats.map(_.id).distinct.length == 59)
  }
}

/** S4/S5 golden tests — ported from test/scrapers/test_user.py. */
class UserParserSpec extends AnyFunSuite {
  private val Now = Instant.parse("2022-04-17T23:59:59Z")

  test("parse profile: user id from friends link, ranger badge (test_user.py:26-32)") {
    val snap = HtmlParsers.parseProfile("RybeR", load("profile_ryber"), Now)
    assert(snap.userId == 4153L)
    assert(snap.ts == utc("2022-04-17T23:59:59Z"))
    assert(snap.username == "RybeR")
    assert(!snap.isFarmhand)
    assert(snap.isRanger)
  }

  test("parse online page: 1626 users in document order (test_user.py:35-39)") {
    val online = HtmlParsers.parseOnline(load("online"))
    assert(online.length == 1626)
    assert(online.head == "-sam-")
    assert(online.last == "Zzck")
  }

  test("parse staff page: 25 staff (test_user.py:42-46)") {
    val staff = HtmlParsers.parseOnline(load("members_staff"))
    assert(staff.length == 25)
    assert(staff.head == "Atomiccow")
    assert(staff.last == "wsey54")
  }
}

/** S6 golden tests — ported from test/scrapers/test_mailbox.py. */
class MailboxParserSpec extends AnyFunSuite {
  test("parse message: golden fields incl. html5-serialized body (test_mailbox.py:25-42)") {
    val msg = HtmlParsers.parseMessage(100L, load("message"),
      Instant.parse("2022-06-16T23:59:59Z"))
    assert(msg.id == 100L)
    assert(msg.username == "Lazyforlife")
    assert(msg.ts == utc("2022-05-25T18:29:59Z"))
    assert(msg.subject == "trade ratio bot")
    assert(msg.content ==
      """hey there, ffff pointed me to you for 3rd party sites. I think you run buddy.farm right? super cool site!<br>
<br>
I'm thinking of making something to track trade ratios, ffff recommended that I talk to you about how you scrap data out of the game<br>
<br>
you open to chatting? Is it an extension? headless browser? What's been allowed/disallowed? <br>
<br>
thanks in advance""")
  }

  test("message year rollover: December mail read in January (test_mailbox.py:44-47)") {
    val msg = HtmlParsers.parseMessage(100L, load("message_year"),
      Instant.parse("2023-01-02T00:00:00Z"))
    assert(msg.ts == utc("2022-12-31T18:59:59Z"))
  }

  test("parse mailbox: 5 rows, unread from bold style (test_mailbox.py:50-67)") {
    val rows = HtmlParsers.parseMailbox(load("mailbox"))
    assert(rows == Seq(
      MailboxRow(782186L, unread = true), MailboxRow(781884L, unread = true),
      MailboxRow(781847L, unread = false), MailboxRow(781837L, unread = false),
      MailboxRow(781831L, unread = false)))
  }
}
