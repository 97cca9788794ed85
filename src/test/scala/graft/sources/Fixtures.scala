package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

/** Golden HTML pages captured by the reference, read from
  * [[graft.operators.ScanQueries.FixtureDir]] — the one loader every
  * spec shares, failing with the same precondition error as the scans
  * when that tree is absent. Expected values in the parser specs are
  * ported from the reference's own golden tests
  * (test/scrapers/test_chat.py, test_user.py, test_mailbox.py). */
object Fixtures {
  def load(name: String): String =
    new String(Files.readAllBytes(graft.operators.ScanQueries.fixturePage(name)), UTF_8)
  def utc(s: String): Timestamp = Timestamp.from(Instant.parse(s))
}
