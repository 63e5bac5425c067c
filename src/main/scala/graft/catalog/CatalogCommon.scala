package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Exact, VectorFunctions}
import graft.operators.ReferenceOps

/** Helpers that queries of more than one family use: oracle-SQL generators
  * shared across families, the drain parallelism rule and the one session
  * conf scope of the catalog.
  */
private[graft] object CatalogCommon {

  private[graft] type Q = (SparkSession, String) => DataFrame

  private[catalog] def monthSid(c: Column): Column = ReferenceOps.monthSid(c)

  private[catalog] val monthSidSql = "CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT)"

  /** revenue term: exact decimal price * (1 - discount), summed, as double */
  private[catalog] def revenueSum = Exact.sumDisc(col("l_extendedprice"), col("l_discount"))
  private[catalog] val revenueSumSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
      "(CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)"

  // Unsigned-64 arithmetic helpers for DuckDB oracle SQL live in U64Sql
  // (shared with SketchOracleSql) — HUGEINT mod-2^64 emulation of the
  // wrapping folds, generated from the same Scala constants as the kernels.
  // defs (not vals): referenced from oracle-SQL vals that may initialize
  // earlier in declaration order
  private def U64 = U64Sql.Wrap
  private[catalog] def u64ToSigned(h: String): String = U64Sql.toBigint(h)
  private def byteListSql(text: String): String = U64Sql.byteList(text)

  /** `fold(h, b) = h*Base + b  (mod 2^64)` — mirrors RollingHash.hashBytes. */
  private[catalog] def rollingFoldSql(text: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT), ${byteListSql(text)}),
       |      (h, b) -> (h * ${org.apache.spark.sql.graftx.RollingHash.Base} + b) % $U64)""".stripMargin

  /** CTE chain replaying greedy longest-match subword tokenization over
    * the distinct words of `src` (a CTE/table with doc_id, text): emits
    * `toks` (doc_id, ord, word) and `done` (word, pieces). Greedy longest
    * match is unique: at most one piece of each length matches at a
    * position, so "pick the longer" is a total tie-free rule. Vocab is
    * total over printable ASCII (QueryCatalogSpec asserts the corpus is
    * ASCII), so list_filter below is never empty. Callers must open the
    * WITH as RECURSIVE.
    */
  private[catalog] def subwordCtes(src: String): String = {
    import org.apache.spark.sql.graftx.WordPiece
    val vocab = (WordPiece.MultiChar ++ WordPiece.SingleChar)
      .filterNot(_ == " ")
      .map(p => "'" + p.replace("'", "''") + "'").mkString("[", ", ", "]")
    s"""tks AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM $src
       |), toks AS (
       |  SELECT doc_id, i AS ord, tk[i] AS word
       |  FROM tks, LATERAL unnest(generate_series(1, len(tk))) AS u(i)
       |  WHERE tk[i] <> ''
       |), words AS (SELECT DISTINCT word FROM toks
       |), wp(word, pos, pieces) AS (
       |  SELECT word, CAST(1 AS BIGINT), CAST([] AS VARCHAR[]) FROM words
       |  UNION ALL
       |  SELECT word, pos + length(best), list_append(pieces, best) FROM (
       |    SELECT word, pos, pieces,
       |      list_reduce(list_filter($vocab,
       |          p -> substr(word, CAST(pos AS INTEGER), length(p)) = p),
       |        (a, b) -> CASE WHEN length(b) > length(a) THEN b ELSE a END) AS best
       |    FROM wp WHERE pos <= length(word)) s
       |), done AS (
       |  SELECT word, pieces FROM wp WHERE pos = length(word) + 1
       |)""".stripMargin
  }

  /** DuckDB dot product mirroring VectorFunctions.dot's exact fold order:
    * left-to-right double accumulation over float-widened elements.
    */
  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private[catalog] def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** LSH bucket oracle generated from the same hyperplane constants. */
  private[catalog] val lshBucketSqlFor: String => String = { v =>
    val bits = (0 until VectorFunctions.LshBits).map { h =>
      val proj = s"list_sum(list_transform(generate_series(1, len($v)), " +
        s"i -> CAST($v[i] AS DOUBLE) * CAST(xor((i-1)*73856093, ${h * 19349663L}) % 7 - 3 AS DOUBLE)))"
      s"(CASE WHEN $proj >= 0.0 THEN ${1L << h} ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }

  /** Scale-adaptive parallelism for a streaming drain (r12, guide §2).
    * The state-store partition count is `spark.sql.shuffle.partitions` at
    * stream start, and a fixed cpu-count value is pure per-partition fixed
    * cost on small inputs: every stateful drain in the r11 driver bench ran
    * FASTER at 8 cores than 32 (scaling ratios 0.48–0.93), and the r12
    * probe measured q_stream_attribution_outer at 9.8 s with 32 state
    * partitions vs 3.0 s with 1, q_stream_interp 17.7 s vs 4.3 s —
    * identical results (per-key state machines are partition-count
    * independent; the oracle gates every drain). So each drain derives its
    * partition count from its INPUT BYTES — one partition per
    * `spark.graft.stream.targetPartitionBytes` (default 64 MiB, the guide
    * §2.2 sizing), floor 1 — capped by
    * `spark.graft.stream.maxStatePartitions` (default 4 × the cluster's
    * defaultParallelism, min 64). At 100 TB the CAP binds, giving the
    * usual cores-proportional state layout; at bench SF the BYTES bind,
    * removing the fixed cost. Both knobs are session confs, not constants.
    * The previous shuffle-partition setting is restored after the drain,
    * so the batch plans around it (and their bench fingerprints) are
    * untouched.
    */
  private def drainInputBytes(s: SparkSession, paths: Seq[String]): Long =
    paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
    }.sum
  private def drainPartitionsFor(s: SparkSession, inputBytes: Long): Int = {
    val target = s.conf.get("spark.graft.stream.targetPartitionBytes",
      (64L << 20).toString).toLong
    val cap = s.conf.get("spark.graft.stream.maxStatePartitions",
      math.max(64, s.sparkContext.defaultParallelism * 4).toString).toInt
    math.max(1, math.min(cap.toLong,
      (inputBytes + target - 1) / math.max(1L, target)).toInt)
  }

  /** Run drain body `f` with shuffle/state partitions sized from the bytes
    * under `inputPaths` (see [[drainPartitionsFor]]).
    */
  private[catalog] def withDrainParallelism[T](s: SparkSession, inputPaths: String*)(
      f: => T): T =
    withConf(s, "spark.sql.shuffle.partitions",
      drainPartitionsFor(s, drainInputBytes(s, inputPaths.toSeq)).toString)(f)

  private[graft] val StateProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private[graft] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `f` with the session conf `key` set to `value`, then restore the
    * session's previous value: the one save/set/restore scope left in
    * `src/main`, used only around the streaming drains (through
    * `withDrainParallelism` and `QueryCatalog.withStateBackend`). The
    * state-store provider and the shuffle partition count are read when a
    * stream starts, so they must be set in the session that starts it; and
    * a session's `StreamingQueryListener`s hear only the streams started
    * in that session, so running the drain in an isolated clone instead
    * would hide it from Bench's state meter and from the catalog spec's
    * kind check. The scope is not safe under two overlapping calls on one
    * session: Verify runs each pooled query on its own session, and Bench
    * runs queries one at a time. A key the session did not set is unset
    * again (`getOption` would return its default, and restoring that would
    * leave the key set).
    */
  private[graft] def withConf[T](s: SparkSession, key: String, value: String)(f: => T): T = {
    val prev = s.conf.getAll.get(key)
    s.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }
}
