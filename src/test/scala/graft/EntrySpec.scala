package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.GraftExtensions
import graft.operators.Query

/** The driver's smoke check, run locally: the flagship entry must
  * return rows on the smallest testdata, on a CALLER-owned session
  * (the contract ensure() exists for). */
class EntrySpec extends AnyFunSuite {
  private val Dir = "/root/testdata/sf0.001"

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("ensure covers every native graft_* expression any registered query resolves to") {
    // the bug class this pins: a kernel that resolves in extension-
    // built sessions (TestSpark, Sessions) but that ensure() does not
    // know fails only on a caller-owned one — collect the actually-
    // resolved graft expressions from every query's analyzed plan and
    // require the kernel table ensure() registers to name each of them
    val spark = TestSpark.spark
    val known = GraftExtensions.kernels.map(_.name).toSet
    var used = Set.empty[String]
    val offenders = TestSpark.sweepRegistry { (name, fn) =>
      val resolved = fn(spark, Dir).queryExecution.analyzed
        .flatMap(_.expressions) // every plan node's expression trees
        .flatMap(_.collect {
          case e if e.getClass.getPackage != null &&
            e.getClass.getPackage.getName == "graft.expressions" => e.prettyName
        }).toSet
      used ++= resolved
      (resolved -- known).toSeq.sorted.map(k => s"$name: $k is used but not registered by ensure")
    }
    assert(used.nonEmpty, "expected native kernels in the registry's plans")
    assert(offenders.isEmpty, offenders.mkString("\n  ", "\n  ", ""))
  }

  test("the extension registry and ensure() register the SAME kernel set") {
    // the r19 gap this pins: graft_looprun reached ensure() but not
    // the extension — harmless for SparkEntry callers (ensure runs
    // on every query) but an extension-built session that SKIPS the
    // contract would silently miss the newest kernels. An extension-
    // built session (TestSpark runs through Sessions.builder, which
    // sets spark.sql.extensions) must resolve every kernel of the
    // table BEFORE ensure() runs for it.
    val fresh = TestSpark.spark.newSession() // extensions apply, ensure() hasn't
    val missing = GraftExtensions.kernels.map(_.name).filterNot(name =>
      fresh.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
    assert(missing.isEmpty,
      s"kernels registered by ensure() but absent from GraftExtensions: $missing")
  }

  test("ensure registers every kernel a session is missing, and queries then run") {
    // a session built without the extension: drop the kernels from a
    // fresh session so ensure() has to register each of them
    val fresh = TestSpark.spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val ids = GraftExtensions.kernels.map(k =>
      org.apache.spark.sql.catalyst.FunctionIdentifier(k.name))
    ids.foreach(registry.dropFunction)
    assert(!ids.exists(registry.functionExists))
    assert(SparkEntry.queries("near_dup_cluster")(fresh, Dir).count() > 0)
    assert(ids.forall(registry.functionExists))
  }

  test("query calls on an extension-built session re-register no kernel (no registry WARN)") {
    // ensure() runs on every query call; replacing an already-resolved
    // kernel logs one "replaced a previously registered function" WARN
    // per kernel per call
    val registry = classOf[org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry]
    val (_, warns) = TestSpark.warnings(registry.getName) {
      for (_ <- 1 to 2)
        SparkEntry.queries("argmax_per_group")(TestSpark.spark, Dir)
    }
    assert(warns.isEmpty, s"${warns.size} function registry WARNs, first: ${warns.headOption}")
  }

  test("README's graft.expressions row counts and names every kernel of the table") {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val row = try src.getLines().find(_.startsWith("| `graft.expressions` |")) finally src.close()
    assert(row.isDefined, "README.md has no `graft.expressions` row")
    val named = "`(graft_[a-z_]+)`".r.findAllMatchIn(row.get).map(_.group(1)).toSet
    val missing = GraftExtensions.kernels.map(_.name).filterNot(named)
    assert(missing.isEmpty, s"kernels absent from README's graft.expressions row: $missing")
    assert(row.get.contains(s"| ${GraftExtensions.kernels.size} native Catalyst kernels"),
      s"README's row does not state ${GraftExtensions.kernels.size} kernels")
  }

  test("every runMain graft.<X> the README and the verify skill notes name is a main") {
    val named = Seq("README.md", ".claude/skills/verify/SKILL.md").flatMap { doc =>
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get(doc))
      """runMain graft\.(\w+(?:\.\w+)*)""".r.findAllMatchIn(text).map(m => doc -> m.group(1))
    }.distinct
    assert(named.exists(_._2 == "Bench"), s"no runMain graft.Bench found: $named")
    val broken = named.filterNot { case (_, main) => scala.util.Try(
      Class.forName(s"graft.$main$$").getMethod("main", classOf[Array[String]])).isSuccess }
    assert(broken.isEmpty, s"documented mains that do not resolve: $broken")
  }

  test("a query name declared in two modules fails the registry build, naming it") {
    val q = Query((s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Seq(Map("only_a" -> q, "shared" -> q), Map("shared" -> q, "only_b" -> q)))
    }
    assert(e.getMessage.contains("shared") && !e.getMessage.contains("only_"), e.getMessage)
  }

  test("every registered query has either an oracle or a scan prefix") {
    val keys = SparkEntry.queries.keySet
    val withOracle = SparkEntry.oracleSql.keySet
    val scanOnly = keys -- withOracle
    assert(scanOnly.forall(_.startsWith("html_scan_")),
      s"non-scan queries missing oracles: ${scanOnly.filterNot(_.startsWith("html_scan_"))}")
    assert(withOracle.subsetOf(keys),
      s"oracles without queries: ${withOracle -- keys}")
  }
}
