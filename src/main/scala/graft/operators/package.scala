package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

package object operators {
  /** A query body: session and testdata directory to its result. */
  type Q = (SparkSession, String) => DataFrame

  /** One registry entry: the query body and its oracle, ANSI SQL that
    * DuckDB runs on the same parquet tables to return the same rows. */
  final case class Query(run: Q, oracle: String)

  /** Oracle-side events relation with ts truncated like Spark reads it
    * ([[graft.Tables.events]]). */
  private[operators] val EV =
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  /** Sum a double column exactly (order-independent across partials):
    * via decimal, cast back so the output schema stays `double`. */
  private[operators] def sumd(c: Column): Column = sum(c.cast("decimal(38,10)")).cast("double")
}
