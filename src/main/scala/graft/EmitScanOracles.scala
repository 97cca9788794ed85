package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types._

/** One-time generator for the HTML-scan oracle goldens
  * (`src/main/resources/graft/oracles/<name>.sql`).
  *
  * The scans parse captured fixture pages — there is no SQL-computable
  * oracle for an HTML parser, so their driver-level oracle is a pinned
  * `VALUES`-literal golden: the exact expected output, as DuckDB SQL.
  * The values are NOT self-certifying — the same parses are verified
  * field-by-field against expectations ported from the reference's own
  * tests (ChatParserSpec / UserParserSpec / MailboxParserSpec, from
  * reference/test/scrapers/test_chat.py:40-129, test_user.py,
  * test_mailbox.py); this emitter just freezes that verified output so
  * the driver's hash gate locks the parsers against regression.
  *
  * Deterministic by construction: fixture pages + pinned `now` anchors
  * (ScanQueries), session timezone UTC, explicit ORDER BY. Usage:
  * `sbt "runMain graft.EmitScanOracles src/main/resources/graft/oracles"`
  * — rerun only when a parser change is WANTED; the diff is the review.
  */
object EmitScanOracles {
  /** Spark sort keys per scan query — the oracle must replay the same
    * total order because the driver compares rows positionally. */
  private val orderKeys: Map[String, Seq[String]] = Map(
    "html_scan_chat" -> Seq("room", "id"),
    "html_scan_archive" -> Seq("room", "id"),
    "html_scan_flags" -> Seq("id"),
    "html_scan_profile" -> Seq.empty, // single row
    "html_scan_online" -> Seq("username"),
    "html_scan_mailbox" -> Seq("id"),
    "html_scan_message" -> Seq("id"),
  )

  private def duckType(dt: DataType): String = dt match {
    case StringType => "VARCHAR"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DoubleType => "DOUBLE"
    case other => sys.error(s"no oracle literal mapping for $other")
  }

  private def lit(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => "NULL"
    case (s: String, StringType) => "'" + s.replace("'", "''") + "'"
    case (t: java.sql.Timestamp, TimestampType) =>
      // collected under session TZ UTC; format in UTC explicitly so the
      // emitter is immune to the JVM default zone
      val i = t.toInstant.atZone(java.time.ZoneOffset.UTC)
      val pat = if (t.getNanos == 0) "yyyy-MM-dd HH:mm:ss" else "yyyy-MM-dd HH:mm:ss.SSSSSS"
      "TIMESTAMP '" + java.time.format.DateTimeFormatter.ofPattern(pat).format(i) + "'"
    case (b: Boolean, BooleanType) => if (b) "TRUE" else "FALSE"
    case (n, _) => n.toString
  }

  /** Render one scan's collected output as its VALUES-literal oracle —
    * shared with ScanOracleSpec, which re-renders the live parse and
    * asserts it equals the committed resource byte-for-byte. */
  def render(name: String, df: org.apache.spark.sql.DataFrame): String = {
    val schema = df.schema
    val rows = df.collect()
    require(rows.nonEmpty, s"$name produced no rows")
    val cols = schema.fields.map(_.name)
    val values = rows.map { r =>
      cols.indices.map(i => lit(r.get(i), schema.fields(i).dataType))
        .mkString("(", ", ", ")")
    }.mkString(",\n  ")
    val select = schema.fields
      .map(f => s"CAST(${f.name} AS ${duckType(f.dataType)}) AS ${f.name}")
      .mkString(", ")
    val order = orderKeys(name) match {
      case Seq() => ""
      case ks => s"\nORDER BY ${ks.mkString(", ")}"
    }
    s"""SELECT $select
       |FROM (VALUES
       |  $values) AS t(${cols.mkString(", ")})$order""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args.headOption.getOrElse("src/main/resources/graft/oracles"))
    Files.createDirectories(outDir)
    val spark = Sessions.get("graft-emit-scan-oracles")
    graft.operators.ScanQueries.queries.foreach { case (name, q) =>
      val sql = render(name, q.run(spark, ""))
      Files.writeString(outDir.resolve(s"$name.sql"), sql)
      println(s"[emit] $name -> $name.sql")
    }
    spark.stop()
  }
}
