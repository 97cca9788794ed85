package graft.streaming

import java.time.{Instant, ZonedDateTime}
import java.time.format.DateTimeFormatter
import java.util.Locale
import graft.sources.HtmlParsers

/** Chat pages in the grammar `HtmlParsers.parseChat` reads, for specs
  * that must run without the captured reference fixtures. Message `id`
  * is posted by `user<id>` with the text `message <id>`. */
object ChatPages {
  private val TimeFmt = DateTimeFormatter.ofPattern("hh:mm:ss a", Locale.US)

  /** One message block; a deleted message shows the site's redstripes
    * and `undelChat` link. */
  def block(id: Long, at: Instant, deleted: Boolean = false): String =
    s"""<div class="chat-txt  ${if (deleted) "redstripes" else ""}" >""" +
      s"""<span style="color:gray">${TimeFmt.format(ZonedDateTime.ofInstant(at,
        HtmlParsers.ServerTz))}</span> """ +
      s"""<div class="chip-media"><img src="/img/emblems/e1.png" data-username="user$id" """ +
      s"""class="emb"></div> <a href="javascript:${if (deleted) "undelChat" else "delChat"}""" +
      s"""($id)">x</a><br><span style="color:#222">message $id</span></div>"""

  /** A page of (id, posted at) messages, newest first as the site shows them. */
  def page(msgs: Seq[(Long, Instant)]): String =
    msgs.sortBy(-_._1).map { case (id, at) => block(id, at) }.mkString("\n")
}
