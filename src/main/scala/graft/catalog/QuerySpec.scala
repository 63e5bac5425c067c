package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a query's body does when it runs, which decides where a harness
  * may run it.
  */
private[graft] sealed trait Kind

private[graft] object Kind {

  /** Builds its result from the inputs; Bench times it. */
  case object Batch extends Kind

  /** A `q_etl_*` run of the backup loop: it writes files in a many-job
    * loop, so Verify gates it and Bench does not time it.
    */
  case object Pipeline extends Kind

  /** Starts and awaits Structured Streaming queries. Bench times it in its
    * streaming section, and the state-store backend axis applies to it.
    */
  case object Drain extends Kind
}

/** One declared query: its name, its kind, its body over
  * `(session, testdata dir)`, and the DuckDB SQL that must return the same
  * rows.
  */
private[graft] final case class QuerySpec(
    name: String,
    kind: Kind,
    body: (SparkSession, String) => DataFrame,
    oracleSql: String)
