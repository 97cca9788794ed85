package graft
import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, only @ _*) = args
    val spark = Sessions.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Env-drift forensics: record each table's SCANNED schema in the
    // driver log, so a regenerated-testdata round (r13 lost 30 queries
    // to a silent events.ts dtype change) is diagnosable from the log
    // alone. TestdataContractSpec is the failing tripwire; this is the
    // evidence trail.
    Tables.names.foreach { n =>
      try System.err.println(s"[verify] schema $n: " +
        Tables.table(spark, sfDir, n).schema.map(f =>
          s"${f.name}:${f.dataType.simpleString}").mkString(", "))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] schema $n: UNREADABLE ${e.getMessage}")
      }
    }
    val picked = // optional name filter for local iteration; driver passes none
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only.toSet).toMap
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same hygiene as Bench: queries that persist intermediates
      // (corpus_pipeline's three stage caches, signature relations) must
      // not accumulate block-manager storage across an 88-query run.
      Sessions.isolate(spark)
    }
    // sorted keys, so two dumps of one registry are byte-identical
    new ObjectMapper().enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
      .writeValue(new java.io.File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql.asJava)
    spark.stop()
  }
}
