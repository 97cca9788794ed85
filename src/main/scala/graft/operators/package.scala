package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object operators {
  /** A query body: session and testdata directory to its result. */
  type Q = (SparkSession, String) => DataFrame

  /** One registry entry: the query body and its oracle, ANSI SQL that
    * DuckDB runs on the same parquet tables to return the same rows. */
  final case class Query(run: Q, oracle: String)
}
