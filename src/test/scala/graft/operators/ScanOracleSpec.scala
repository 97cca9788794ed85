package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.{EmitScanOracles, TestSpark}

/** The committed VALUES-literal oracle goldens
  * (`resources/graft/oracles/<name>.sql`) must stay byte-identical to a
  * re-render of the live parse: a parser change that shifts any field
  * fails HERE with a pointed message (rerun graft.EmitScanOracles and
  * review the diff), instead of surfacing as an opaque driver hash
  * mismatch. Together with the field-level fixture suites
  * (ChatParserSpec etc., expectations ported from the reference's own
  * tests) this grounds the goldens: specs prove the parse is right,
  * this spec proves the committed oracle IS that parse. */
class ScanOracleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  ScanQueries.queries.foreach { case (name, q) =>
    test(s"$name committed oracle matches live parse") {
      val live = EmitScanOracles.render(name, q.run(spark, ""))
      assert(live == q.oracle,
        s"$name drifted from its committed golden — if the parser change " +
        "is intended, rerun `sbt \"runMain graft.EmitScanOracles\"` and review the diff")
    }
  }
}
