package graft

import org.apache.spark.sql.SparkSession

import graft.catalog._
import graft.catalog.CatalogCommon.{Q, RocksDbProvider, StateProviderKey, withConf}
import graft.catalog.Kind.{Batch, Drain}

/** The declared query surface: one entry per operator from SURVEY.md §2 plus
  * the north-star training-data-pipeline operators, each with a DuckDB
  * oracle that is value-identical by construction: exact decimal arithmetic
  * cast to double at the end, deterministic ORDER BY with unique
  * tie-breaks, explicit casts so schemas line up.
  *
  * Where the oracle SQL encodes nontrivial logic (language-ID argmax, LSH
  * bucket bits), the SQL is GENERATED from the same constants the Spark
  * implementation uses, so the two sides cannot drift.
  *
  * Each query is one `QuerySpec` next to its body, in the family object
  * under `graft/catalog/`; the maps and sets below are views of their
  * concatenation.
  */
object QueryCatalog {

  private[graft] val specs: Seq[QuerySpec] =
    EtlQueries.specs ++ AnalyticsQueries.specs ++ TextQueries.specs ++
      EmbeddingQueries.specs ++ MultimodalQueries.specs ++ EventQueries.specs ++
      ProfilingQueries.specs

  /** Pipelines excluded from Bench timing (they write files in a many-job
    * loop or run a full streaming drain; Verify still correctness-gates
    * them).
    */
  val benchExcluded: Set[String] = specs.filter(_.kind != Batch).map(_.name).toSet

  /** The streaming drains — every query whose body starts and awaits
    * Structured Streaming queries. The state-store BACKEND AXIS applies to
    * exactly this set: [[withStateBackend]] wraps each of them, so one
    * session/env switch runs the whole drain suite on HDFS-backed or
    * RocksDB state with identical oracles. (The two `_rocksdb`-suffixed
    * twins pin their provider inside their own bodies; the outer wrapper
    * composes harmlessly — innermost setting wins at stream start.)
    */
  val streamingDrains: Set[String] = specs.filter(_.kind == Drain).map(_.name).toSet

  /** Run `f` with the named state-store backend ("rocksdb" | "hdfs" |
    * "default"); the provider is a session conf read at stream start, so
    * scoping it around a drain body is the per-query discipline
    * (Verify/Bench run queries sequentially on one session).
    */
  def withStateBackend[T](s: SparkSession, backend: String)(f: => T): T =
    backend match {
      case "rocksdb"          => withConf(s, StateProviderKey, RocksDbProvider)(f)
      case "hdfs" | "default" => f
      case other => sys.error(s"unknown state backend: $other")
    }

  /** Env-var axis for driver-run harnesses (Verify): every streaming drain
    * honors `SPARK_GRAFT_STATE_BACKEND` (default: Spark's default
    * HDFS-backed store).
    */
  private def backendWrapped(m: Map[String, Q]): Map[String, Q] =
    sys.env.get("SPARK_GRAFT_STATE_BACKEND") match {
      case None | Some("hdfs") | Some("default") => m
      case Some(b) => m.map { case (n, f) =>
        if (streamingDrains(n))
          n -> ((s: SparkSession, d: String) => withStateBackend(s, b)(f(s, d)))
        else n -> f
      }
    }

  val queries: Map[String, Q] = backendWrapped(specs.map(q => q.name -> q.body).toMap)

  val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracleSql).toMap
}
