package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.similarity.ModelCache

import CatalogCommon._
import EventQueries.suppCustEdges
import Kind.Batch

/** Profiling and data hygiene: column profiles, PII scrubbing, URL
  * canonicalization, statistics tests, BPE, anomaly scores, zone maps,
  * personalized PageRank and feature scaling.
  */
private[graft] object ProfilingQueries {

  // ---------------------------------------------- profiling / hygiene

  /** Column profiling (operators.Profile — the ANALYZE_STATISTICS shape):
    * one aggregate pass over lineitem emitting count/nulls/NDV/min/max
    * per column, one row each. Exact NDV for oracle parity; the 100 TB
    * variant swaps in approx_count_distinct with the same plan shape.
    */
  private val qProfile: Q = (s, dir) =>
    operators.Profile.profile(Tables.lineitem(s, dir),
      numericCols = Seq("l_quantity", "l_extendedprice", "l_discount"),
      stringCols = Seq("l_returnflag", "l_linestatus"))
      .orderBy("col_name")

  private val profileSql = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name,
         |  COUNT(*) - COUNT($c) AS n_nulls, COUNT($c) AS n_values,
         |  COUNT(DISTINCT $c) AS ndv,
         |  CAST(MIN($c) AS DOUBLE) AS min_num, CAST(MAX($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM lineitem""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS col_name,
         |  COUNT(*) - COUNT($c) AS n_nulls, COUNT($c) AS n_values,
         |  COUNT(DISTINCT $c) AS ndv,
         |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         |  MIN($c) AS min_str, MAX($c) AS max_str
         |FROM lineitem""".stripMargin
    (Seq("l_quantity", "l_extendedprice", "l_discount").map(num) ++
      Seq("l_returnflag", "l_linestatus").map(str))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** URL canonicalization + canonical-URL dedup
    * ([[graft.pipeline.UrlCurate]]): deterministic messy synthetic URLs
    * (the q_pii_scrub injection discipline — the testdata has no URL
    * column) normalized by lowercasing scheme/host, stripping `www.` and
    * default ports, collapsing trailing slashes, dropping tracking params
    * + fragments, and SORTING surviving query params; dedup keeps the min
    * doc_id per canonical URL. Map-only canonicalization, one 8-byte-ish
    * keyed aggregate — the free pre-content dedup pass of a web-crawl
    * pipeline. Regex/array semantics chosen to match Java and RE2
    * identically; the oracle replays injection + canonicalization +
    * winner election verbatim.
    */
  private val qUrlCanonicalize: Q = (s, dir) =>
    graft.pipeline.UrlCurate.curate(Tables.documents(s, dir))
      .orderBy("doc_id")

  /** Host-level crawl stats over the same canonicalized URLs — the
    * curation dashboard a crawl pipeline keys its per-host policies on
    * (crawl budgets, block decisions): docs per host, distinct canonical
    * URLs, dup rate, content volume. One aggregate over the map-only
    * canonicalization; the host is low-cardinality so the shuffle is
    * trivial at any corpus size.
    */
  private val qHostStats: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.pipeline.UrlCurate.curate(docs)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon_url")).as("n_urls"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chars")).as("total_chars"))
      .withColumn("dup_rate",
        lit(1.0) - col("n_kept").cast("double") / col("n_docs").cast("double"))
      .orderBy("host")
  }

  private val urlCanonicalizeSql =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://'
      |          WHEN doc_id % 5 = 1 THEN 'https://' ELSE 'http://' END)
      |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
      |    || upper(substr(source, 1, 1)) || substr(source, 2, 100)
      |    || '.Example.COM'
      |    || (CASE WHEN doc_id % 5 = 0 THEN ':443'
      |             WHEN doc_id % 7 = 0 THEN ':80' ELSE '' END)
      |    || '/docs/item-' || CAST(doc_id % 10 AS VARCHAR)
      |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
      |    || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1'
      |             ELSE '?a=1&b=2&utm_campaign=x&fbclid=abc' END)
      |    || (CASE WHEN doc_id % 2 = 0 THEN '#sec' ELSE '' END) AS url
      |  FROM documents
      |), parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://([^/?#]+)([^?#]*)\??([^#]*)#?.*$', 1)) AS scheme,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://([^/?#]+)([^?#]*)\??([^#]*)#?.*$', 2)) AS host_port,
      |    regexp_extract(url, '^([A-Za-z]+)://([^/?#]+)([^?#]*)\??([^#]*)#?.*$', 3) AS raw_path,
      |    regexp_extract(url, '^([A-Za-z]+)://([^/?#]+)([^?#]*)\??([^#]*)#?.*$', 4) AS raw_query
      |  FROM u
      |), canon AS (
      |  SELECT doc_id,
      |    CASE WHEN scheme = 'https'
      |      THEN regexp_replace(regexp_replace(host_port, '^www\.', ''), ':443$', '')
      |      ELSE regexp_replace(regexp_replace(host_port, '^www\.', ''), ':80$', '')
      |    END AS host,
      |    CASE WHEN raw_path = '' THEN '/'
      |         WHEN regexp_replace(raw_path, '/$', '') = '' THEN '/'
      |         ELSE regexp_replace(raw_path, '/$', '') END AS path,
      |    list_sort(list_filter(string_split(raw_query, '&'),
      |      p -> p <> '' AND NOT starts_with(p, 'utm_')
      |        AND NOT starts_with(p, 'fbclid')
      |        AND NOT starts_with(p, 'gclid'))) AS kept,
      |    scheme
      |  FROM parts
      |), c2 AS (
      |  SELECT doc_id, host,
      |    scheme || '://' || host || path ||
      |      (CASE WHEN len(kept) = 0 THEN ''
      |            ELSE '?' || array_to_string(kept, '&') END) AS canon_url
      |  FROM canon
      |)
      |SELECT doc_id, canon_url, host,
      |  doc_id = MIN(doc_id) OVER (PARTITION BY canon_url) AS keep
      |FROM c2 ORDER BY doc_id""".stripMargin

  /** Same injection/canonicalization CTE chain, aggregated per host.
    * Built by plain concatenation — the embedded SQL contains `||` concat
    * operators that an outer `stripMargin` would mangle.
    */
  private val hostStatsSql =
    Seq(
      "WITH k AS (",
      urlCanonicalizeSql.stripSuffix(" ORDER BY doc_id"),
      ")",
      "SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,",
      "  CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_urls,",
      "  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,",
      "  CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,",
      "  1.0 - CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)",
      "      / CAST(COUNT(*) AS DOUBLE) AS dup_rate",
      "FROM k JOIN documents d USING (doc_id)",
      "GROUP BY host ORDER BY host").mkString("\n")

  /** PII scrubbing for training corpora: deterministic synthetic PII
    * (emails keyed by doc_id, a phone token) is injected, then redacted
    * with codegen regexp_replace — a single map-only projection, no
    * shuffle beyond the final per-language aggregate. The oracle replays
    * injection + redaction; `residual_pii` is the in-band audit bit (1 if
    * any pattern survived). Patterns avoid engine-specific syntax so Java
    * and RE2 match identically.
    */
  private val qPiiScrub: Q = (s, dir) => {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
    val phonePat = "\\b[0-9]{3}-[0-9]{4}\\b"
    Tables.documents(s, dir)
      .withColumn("t", concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0, lit(" call 555-0199"))
          .otherwise(lit(""))))
      .withColumn("n_email", regexp_count(col("t"), lit(emailPat)))
      .withColumn("n_phone", regexp_count(col("t"), lit(phonePat)))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("t"), emailPat, "[EMAIL]"),
          phonePat, "[PHONE]"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).cast("long").as("emails_redacted"),
        sum(col("n_phone")).cast("long").as("phones_redacted"),
        sum(length(col("scrubbed"))).cast("long").as("chars_after"),
        max(when(regexp_count(col("scrubbed"), lit(emailPat)) +
          regexp_count(col("scrubbed"), lit(phonePat)) > 0, 1).otherwise(0))
          .cast("long").as("residual_pii"))
      .orderBy("lang")
  }

  private val piiScrubSql =
    """WITH inj AS (
      |  SELECT lang, text ||
      |    CASE WHEN doc_id % 7 = 0
      |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN ' call 555-0199' ELSE '' END AS t
      |  FROM documents
      |), scr AS (
      |  SELECT lang, t,
      |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS n_email,
      |    len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{4}\b')) AS n_phone,
      |    regexp_replace(regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[EMAIL]', 'g'),
      |      '\b[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g') AS scrubbed
      |  FROM inj
      |)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
      |  CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
      |  CAST(SUM(length(scrubbed)) AS BIGINT) AS chars_after,
      |  CAST(MAX(CASE WHEN
      |      len(regexp_extract_all(scrubbed, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) +
      |      len(regexp_extract_all(scrubbed, '\b[0-9]{3}-[0-9]{4}\b')) > 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS residual_pii
      |FROM scr GROUP BY lang ORDER BY lang""".stripMargin

  /** Jaro–Winkler similarity through the custom codegen expression
    * (graftx.JaroWinkler — Spark has levenshtein but not JW): consecutive
    * customer names (high-similarity, exercises the Winkler prefix boost)
    * and name-vs-mktsegment (low-similarity, no-boost path), both checked
    * against DuckDB's jaro_winkler_similarity to the last bit. Map-only
    * compute; the key-shift self-join is the only shuffle.
    */
  private val qJaroWinkler: Q = (s, dir) => {
    import org.apache.spark.sql.graftx.JaroWinkler.jaro_winkler
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val a = c.filter(col("c_custkey") <= 200)
      .select(col("c_custkey").as("k"), col("c_name").as("name_a"),
        col("c_mktsegment").as("seg_a"))
    val b = c.select((col("c_custkey") - 1).as("k"), col("c_name").as("name_b"))
    a.join(b, "k")
      .select(col("k"),
        jaro_winkler(col("name_a"), col("name_b")).as("jw_name"),
        jaro_winkler(col("name_a"), col("seg_a")).as("jw_cross"))
      .orderBy("k")
  }

  private val jaroWinklerSql =
    """SELECT a.c_custkey AS k,
      |  jaro_winkler_similarity(a.c_name, b.c_name) AS jw_name,
      |  jaro_winkler_similarity(a.c_name, a.c_mktsegment) AS jw_cross
      |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
      |WHERE a.c_custkey <= 200 ORDER BY k""".stripMargin

  /** Chi-square independence test (orderpriority × orderstatus): the
    * contingency table with expected counts and per-cell χ² contributions.
    * All counts are exact map-combinable aggregates; the double arithmetic
    * happens once per cell on identical exact inputs, so contributions are
    * bit-equal across engines (the total statistic is one small sum the
    * caller can take — emitting per-cell keeps the compare exact).
    */
  private val qChisq: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
    val cells = o.groupBy(col("pri"), col("st")).agg(count(lit(1)).as("obs"))
    val rowT = o.groupBy(col("pri")).agg(count(lit(1)).as("row_n"))
    val colT = o.groupBy(col("st")).agg(count(lit(1)).as("col_n"))
    val tot = o.agg(count(lit(1)).as("n"))
    cells.join(broadcast(rowT), "pri").join(broadcast(colT), "st")
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        col("row_n").cast("double") * col("col_n") / col("n"))
      .withColumn("contrib",
        (col("obs") - col("expected")) * (col("obs") - col("expected")) /
          col("expected"))
      .select(col("pri"), col("st"), col("obs"), col("expected"), col("contrib"))
      .orderBy("pri", "st")
  }

  private val chisqSql =
    """WITH c AS (
      |  SELECT o_orderpriority AS pri, o_orderstatus AS st, COUNT(*) AS obs
      |  FROM orders GROUP BY 1, 2
      |), r AS (
      |  SELECT o_orderpriority AS pri, COUNT(*) AS row_n FROM orders GROUP BY 1
      |), cl AS (
      |  SELECT o_orderstatus AS st, COUNT(*) AS col_n FROM orders GROUP BY 1
      |), t AS (SELECT COUNT(*) AS n FROM orders),
      |e AS (
      |  SELECT pri, st, obs, CAST(row_n AS DOUBLE) * col_n / n AS expected
      |  FROM c JOIN r USING (pri) JOIN cl USING (st) CROSS JOIN t
      |)
      |SELECT pri, st, obs, expected,
      |  (obs - expected) * (obs - expected) / expected AS contrib
      |FROM e ORDER BY pri, st""".stripMargin

  /** Group-aware train/test split — the leakage-safe ML split: the md5
    * bucket is computed on the GROUP key (user), so every user's events
    * land wholly in one split; `leaky_users` is the in-band audit (count
    * of users straddling splits — 0 by construction, and the oracle
    * recomputes it independently). Same md5-bucket replay discipline as
    * q_hash_split.
    */
  private val qGroupSplit: Q = (s, dir) => {
    val bucket =
      conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10
    val ev = Tables.events(s, dir)
      .withColumn("split", when(bucket < 8, "train").otherwise("test"))
    val leaks = ev.groupBy(col("user_id"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("leaky_users"))
    ev.groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        expr("bit_xor(event_id)").as("id_xor"))
      .crossJoin(broadcast(leaks))
      .orderBy("split")
  }

  private val groupSplitSql = {
    def hexDigit(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), $i, 1)) - 1)"
    val bucket = s"((${hexDigit(1)}*4096 + ${hexDigit(2)}*256 + " +
      s"${hexDigit(3)}*16 + ${hexDigit(4)}) % 10)"
    s"""WITH ev AS (
       |  SELECT user_id, event_id,
       |    CASE WHEN $bucket < 8 THEN 'train' ELSE 'test' END AS split
       |  FROM events
       |), l AS (
       |  SELECT COUNT(*) AS leaky_users FROM (
       |    SELECT user_id FROM ev GROUP BY user_id
       |    HAVING COUNT(DISTINCT split) > 1) t
       |)
       |SELECT split, COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  CAST(bit_xor(event_id) AS BIGINT) AS id_xor, leaky_users
       |FROM ev CROSS JOIN l GROUP BY split, leaky_users
       |ORDER BY split""".stripMargin
  }

  /** BPE-style merge induction over the corpus — the vocabulary-training
    * half of the tokenizer story (graftx.SubwordPieces is the inference
    * half): R rounds of (count adjacent token pairs) → (pick the most
    * frequent, count-desc/lexicographic tie-break) → (merge its
    * occurrences left-to-right, non-overlapping). Token state rides as a
    * double-space-joined string, so a round's merge is ONE codegen
    * `replace` — the double separator makes non-overlapping left-to-right
    * replacement exact (a single-space join would let adjacent matches
    * share a boundary space and under-merge).
    *
    * Scale shape: pair counting is a map-side-combinable aggregate whose
    * shuffle is bounded by the distinct-pair vocabulary, never corpus
    * rows; the per-round argmax ships exactly ONE row to the driver
    * (TakeOrdered — the ConnectedComponents convergence discipline); the
    * merge is a map-only projection; `localCheckpoint` truncates lineage
    * per round. Production BPE trainers run these same rounds over a
    * corpus sample — here the slice is doc_id < 200 so the oracle can
    * replay every round as a generated MATERIALIZED CTE (chosen pair,
    * its count, and the post-merge corpus token total, all hash-compared
    * per round).
    */
  private val BpeRounds = 6

  private val qBpeTrain: Q = (s, dir) => {
    var seqs = Tables.documents(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), regexp_replace(col("text"), " ", "  ").as("seq"))
      .localCheckpoint()
    val rows = (1 to BpeRounds).map { r =>
      val best = seqs.select(explode(expr(
          "zip_with(slice(split(seq, '  '), 1, size(split(seq, '  ')) - 1), " +
            "slice(split(seq, '  '), 2, size(split(seq, '  ')) - 1), " +
            "(a, b) -> struct(a, b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).head()
      val (a, b, cnt) =
        (best.getString(0), best.getString(1), best.getLong(2))
      def q(t: String) = sqlTok(t)
      seqs = seqs.select(col("doc_id"),
        expr(s"trim(replace(concat('  ', seq, '  '), " +
          s"' ${q(a)}  ${q(b)} ', ' ${q(a)}_${q(b)} '))").as("seq"))
        .localCheckpoint()
      val tokens = seqs
        .agg(sum(size(split(col("seq"), "  "))).cast("long")).head().getLong(0)
      (r, s"${a}_$b", cnt, tokens)
    }
    import s.implicits._
    rows.toDF("round", "merged", "cnt", "corpus_tokens").orderBy("round")
  }

  private val bpeTrainSql = {
    val parts = Seq("WITH r0 AS MATERIALIZED (SELECT doc_id, " +
      "replace(text, ' ', '  ') AS seq FROM documents WHERE doc_id < 200)") ++
      (1 to BpeRounds).flatMap { i =>
        val prev = s"r${i - 1}"
        Seq(
          s"""b$i AS MATERIALIZED (
             |  SELECT a, b, COUNT(*) AS cnt FROM (
             |    SELECT u.p[1] AS a, u.p[2] AS b FROM (
             |      SELECT UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS p
             |      FROM (SELECT string_split(seq, '  ') AS toks FROM $prev) t) u
             |  ) GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1
             |)""".stripMargin,
          s"""r$i AS MATERIALIZED (
             |  SELECT doc_id, trim(replace('  ' || seq || '  ',
             |    ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
             |    ' ' || (SELECT a FROM b$i) || '_' || (SELECT b FROM b$i) || ' ')) AS seq
             |  FROM $prev
             |)""".stripMargin)
      }
    val outRows = (1 to BpeRounds).map { i =>
      s"""SELECT $i AS round,
         |  (SELECT a || '_' || b FROM b$i) AS merged,
         |  (SELECT cnt FROM b$i) AS cnt,
         |  (SELECT CAST(SUM(len(string_split(seq, '  '))) AS BIGINT) FROM r$i)
         |    AS corpus_tokens""".stripMargin
    }
    parts.mkString(",\n") + "\n" + outRows.mkString("\nUNION ALL\n") +
      "\nORDER BY round"
  }

  /** The learned BPE merge list (same rounds as q_bpe_train), cached per
    * (JVM, sfDir) — training is deterministic, so a cached merge list is
    * identical to a refit one (the ModelCache contract).
    */
  /** Escape a learned token for a Spark SQL string literal: backslash
    * first, then quote-doubling — the ONE sanitizer for all three BPE
    * paths (train loop, merge-list fit, apply chain), so a corpus token
    * containing `'` or `\` can't break parsing in any of them.
    */
  private def sqlTok(t: String): String =
    t.replace("\\", "\\\\").replace("'", "''")

  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    graft.similarity.ModelCache.getOrFit(s"bpe:$dir") {
      var seqs = Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select(regexp_replace(col("text"), " ", "  ").as("seq"))
        .localCheckpoint()
      (1 to BpeRounds).map { _ =>
        val best = seqs.select(explode(expr(
            "zip_with(slice(split(seq, '  '), 1, size(split(seq, '  ')) - 1), " +
              "slice(split(seq, '  '), 2, size(split(seq, '  ')) - 1), " +
              "(a, b) -> struct(a, b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(1).head()
        val (a, b) = (best.getString(0), best.getString(1))
        seqs = seqs.select(
          expr(s"trim(replace(concat('  ', seq, '  '), " +
            s"' ${sqlTok(a)}  ${sqlTok(b)} ', ' ${sqlTok(a)}_${sqlTok(b)} '))")
            .as("seq")).localCheckpoint()
        (a, b)
      }
    }

  /** Train-on-sample, apply-at-scale — the production tokenizer pattern:
    * the merge list induced by q_bpe_train's rounds (cached build-once)
    * is applied to EVERY document as a chain of R codegen replaces — one
    * map-only projection over the corpus, no shuffle until the per-lang
    * accounting. The oracle re-derives the same merges from its own
    * round CTEs and applies the same chain, so tokenization (total and
    * merged-token counts per language) must agree exactly.
    */
  private val qBpeApply: Q = (s, dir) => {
    val merges = bpeMerges(s, dir)
    // the R-merge chain as nested SQL text — one codegen projection
    val seqSql = merges.foldLeft("replace(text, ' ', '  ')") {
      case (inner, (a, b)) =>
        s"trim(replace(concat('  ', $inner, '  '), " +
          s"' ${sqlTok(a)}  ${sqlTok(b)} ', ' ${sqlTok(a)}_${sqlTok(b)} '))"
    }
    Tables.documents(s, dir)
      .select(col("lang"), expr(s"split($seqSql, '  ')").as("toks"))
      .select(col("lang"), size(col("toks")).cast("long").as("n_toks"),
        expr("size(filter(toks, t -> contains(t, '_')))").cast("long")
          .as("n_merged"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"),
        sum(col("n_merged")).as("merged_tokens"))
      .orderBy("lang")
  }

  private val bpeApplySql = {
    // the same training CTEs as bpeTrainSql, then application to ALL docs
    val trainParts = Seq("WITH r0 AS MATERIALIZED (SELECT doc_id, " +
      "replace(text, ' ', '  ') AS seq FROM documents WHERE doc_id < 200)") ++
      (1 to BpeRounds).flatMap { i =>
        val prev = s"r${i - 1}"
        Seq(
          s"""b$i AS MATERIALIZED (
             |  SELECT a, b, COUNT(*) AS cnt FROM (
             |    SELECT u.p[1] AS a, u.p[2] AS b FROM (
             |      SELECT UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS p
             |      FROM (SELECT string_split(seq, '  ') AS toks FROM $prev) t) u
             |  ) GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1
             |)""".stripMargin,
          s"""r$i AS MATERIALIZED (
             |  SELECT doc_id, trim(replace('  ' || seq || '  ',
             |    ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
             |    ' ' || (SELECT a FROM b$i) || '_' || (SELECT b FROM b$i) || ' ')) AS seq
             |  FROM $prev
             |)""".stripMargin)
      }
    val applyParts = Seq(
      "a0 AS MATERIALIZED (SELECT lang, replace(text, ' ', '  ') AS seq FROM documents)") ++
      (1 to BpeRounds).map { i =>
        s"""a$i AS MATERIALIZED (
           |  SELECT lang, trim(replace('  ' || seq || '  ',
           |    ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
           |    ' ' || (SELECT a FROM b$i) || '_' || (SELECT b FROM b$i) || ' ')) AS seq
           |  FROM a${i - 1}
           |)""".stripMargin
      }
    (trainParts ++ applyParts).mkString(",\n") +
      s"""
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split(seq, '  '))) AS BIGINT) AS total_tokens,
         |  CAST(SUM(len(list_filter(string_split(seq, '  '), t -> contains(t, '_'))))
         |    AS BIGINT) AS merged_tokens
         |FROM a$BpeRounds GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Rolling z-score anomaly detection — the monitoring companion of
    * q_ewma: per user, a trailing 10-event window's mean/std computed
    * from EXACT decimal sums (Σx, Σx² — order-independent), the z-score
    * and variance arithmetic done in double once per row, so both
    * engines produce bit-identical scores. Only full windows score
    * (row ≥ 10); emitted rows are the |z| > 2 outliers. Partitioned by
    * user — no global window, one shuffle.
    */
  private val qAnomaly: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tms").asc, col("event_id").asc)
    val trail = w.rowsBetween(-9, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("tms"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("sx", sum(col("value").cast("decimal(18,4)")).over(trail)
        .cast("double"))
      .withColumn("sxx",
        sum((col("value").cast("decimal(18,4)") *
          col("value").cast("decimal(18,4)"))).over(trail).cast("double"))
      .filter(col("rn") >= 10)
      .withColumn("mean", col("sx") / 10.0d)
      .withColumn("variance",
        (col("sxx") - col("sx") * col("sx") / 10.0d) / 9.0d)
      .withColumn("z", (col("value") - col("mean")) / sqrt(col("variance")))
      .filter(abs(col("z")) > 2.0d)
      .select(col("user_id"), col("event_id"), col("tms"), col("z"))
      .orderBy("user_id", "tms", "event_id")
  }

  private val anomalySql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS tms, value,
      |    row_number() OVER w AS rn,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER t AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
      |      OVER t AS DOUBLE) AS sxx
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id),
      |  t AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      |), scored AS (
      |  SELECT user_id, event_id, tms,
      |    (value - sx / 10.0) / sqrt((sxx - sx * sx / 10.0) / 9.0) AS z
      |  FROM e WHERE rn >= 10
      |)
      |SELECT user_id, event_id, tms, z FROM scored
      |WHERE abs(z) > 2.0 ORDER BY user_id, tms, event_id""".stripMargin

  /** Delta compaction for the merge-on-read store — the VACUUM/OPTIMIZE
    * analogue (etl.MergeOnRead.compact): base ∪ accumulated deltas
    * (upserts over two versions + tombstones) folded back into a single
    * resolved base with an atomic rename swap, delta dir removed, read
    * amplification reset to zero. The fixture (base + two delta batches
    * derived from orders) is build-once; each run compacts a fresh copy.
    * The oracle recomputes the resolved state from the delta RULES
    * (latest-wins by version, tombstones drop), so the hash matches only
    * if compaction applied exactly the merge-on-read semantics;
    * `delta_dir_removed` and `max_version` ride in-band.
    */
  private val qDeltaCompact: Q = (s, dir) => {
    val fx = Fixtures.getOrBuild(s"mor:$dir") { f =>
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
      o.select(col("k"), col("v"), lit(0L).as("version"), lit("u").as("op"))
        .write.parquet(s"$f/base")
      o.filter(col("k") % 7 === 0)
        .select(col("k"),
          (col("v") + lit(10).cast("decimal(18,2)")).cast("decimal(18,2)").as("v"),
          lit(1L).as("version"), lit("u").as("op"))
        .write.parquet(s"$f/delta")
      o.filter(col("k") % 13 === 0)
        .select(col("k"), col("v"), lit(2L).as("version"), lit("d").as("op"))
        .unionByName(
          o.filter(col("k") % 11 === 0 && col("k") % 13 =!= 0)
            .select(col("k"),
              (col("v") + lit(20).cast("decimal(18,2)")).cast("decimal(18,2)").as("v"),
              lit(2L).as("version"), lit("u").as("op")))
        .write.mode("append").parquet(s"$f/delta")
    }
    val tmp = Fixtures.mutableCopy(fx)
    etl.MergeOnRead.compact(s, s"$tmp/base", s"$tmp/delta", Seq("k"), "version")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val deltaGone = !fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/delta"))
    s.read.parquet(s"$tmp/base")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v")).cast("double").as("val_sum"),
        expr("bit_xor(k)").as("key_xor"),
        max(col("version")).cast("long").as("max_version"))
      .withColumn("delta_dir_removed", lit(deltaGone))
  }

  private val deltaCompactSql =
    """WITH final AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 11 = 0 AND o_orderkey % 13 <> 0
      |         THEN CAST(o_totalprice AS DECIMAL(18,2)) + 20
      |         WHEN o_orderkey % 7 = 0
      |         THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10
      |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS v
      |  FROM orders WHERE o_orderkey % 13 <> 0
      |)
      |SELECT COUNT(*) AS n_rows, CAST(SUM(v) AS DOUBLE) AS val_sum,
      |  CAST(bit_xor(k) AS BIGINT) AS key_xor,
      |  CAST(0 AS BIGINT) AS max_version, TRUE AS delta_dir_removed
      |FROM final""".stripMargin

  /** Temperature-scaled source mixing — the corpus-mixing step of an LLM
    * data pipeline: per-source sampling rates ∝ size^α (α = 0.5, the
    * up-weight-the-tail exponent), applied as a deterministic md5-bucket
    * acceptance test per document. Weights are floored to integer micros
    * BEFORE the cross-source sum so the normalization constant is exact —
    * a raw double Σ√size would be summation-order dependent and could
    * flip a rate at the 10⁻¹⁵ boundary between engines. Two tiny
    * aggregates + one broadcast join; the corpus pass is map-only.
    */
  private val qSourceMixing: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src_docs"), sum(col("n_chars")).as("chars"))
      .withColumn("w",
        floor(sqrt(col("chars").cast("double")) * lit(1000000.0d)).cast("long"))
    val tot = stats.agg(sum(col("w")).as("sumw"))
    val rates = stats.crossJoin(broadcast(tot))
      .withColumn("rate10k", least(
        floor(lit(30000.0d) * col("w") / col("sumw") / col("chars") *
          lit(10000.0d)).cast("long"),
        lit(10000L)))
      .select(col("source"), col("rate10k"))
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10000
    docs.withColumn("bucket", bucket)
      .join(broadcast(rates), "source")
      .groupBy(col("source"), col("rate10k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("rate10k"), 1).otherwise(0))
          .cast("long").as("picked_docs"),
        sum(when(col("bucket") < col("rate10k"), col("n_chars"))
          .otherwise(lit(0L))).cast("long").as("picked_chars"),
        expr("bit_xor(CASE WHEN bucket < rate10k THEN doc_id ELSE 0 END)")
          .as("id_xor"))
      .orderBy("source")
  }

  private val sourceMixingSql = {
    def hexDigit(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    val bucket = s"((${hexDigit(1)}*4096 + ${hexDigit(2)}*256 + " +
      s"${hexDigit(3)}*16 + ${hexDigit(4)}) % 10000)"
    s"""WITH stats AS (
       |  SELECT source, SUM(n_chars) AS chars,
       |    CAST(floor(sqrt(CAST(SUM(n_chars) AS DOUBLE)) *
       |      CAST(1000000 AS DOUBLE)) AS BIGINT) AS w
       |  FROM documents GROUP BY source
       |), tot AS (SELECT SUM(w) AS sumw FROM stats),
       |rates AS (
       |  SELECT source, LEAST(CAST(floor(CAST(30000 AS DOUBLE) * w / sumw
       |    / chars * CAST(10000 AS DOUBLE)) AS BIGINT), 10000) AS rate10k
       |  FROM stats CROSS JOIN tot
       |), d AS (
       |  SELECT d.source, d.doc_id, d.n_chars, r.rate10k,
       |    $bucket AS bucket
       |  FROM documents d JOIN rates r USING (source)
       |)
       |SELECT source, rate10k, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN bucket < rate10k THEN 1 ELSE 0 END) AS BIGINT)
       |    AS picked_docs,
       |  CAST(SUM(CASE WHEN bucket < rate10k THEN n_chars ELSE 0 END) AS BIGINT)
       |    AS picked_chars,
       |  CAST(bit_xor(CASE WHEN bucket < rate10k THEN doc_id ELSE 0 END)
       |    AS BIGINT) AS id_xor
       |FROM d GROUP BY source, rate10k ORDER BY source""".stripMargin
  }

  /** Multi-column zone map: orders Z-ORDERED on (custkey, order-day), a
    * per-file (min,max) manifest on BOTH columns, and a conjunctive range
    * query that opens only files whose intervals intersect BOTH
    * predicates — skipping compounds across columns, which is the whole
    * point of the Z-layout (either column alone leaves more files alive).
    * `files_pruned` and `conj_beats_single` ride in-band; the hash
    * matches the oracle's direct filter only if pruning kept a superset.
    */
  private val qZoneMap: Q = (s, dir) => {
    val tmp = Fixtures.getOrBuild(s"zonemap:$dir") { f =>
      val o = Tables.orders(s, dir).withColumn("oday",
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long"))
      graft.sources.ZOrder.write(o, "o_custkey", "oday", s"$f/data",
        numFiles = 16)
    }
    val stats = graft.sources.StatsStore
      .collect(s, s"$tmp/data", Seq("o_custkey", "oday")).localCheckpoint()
    val nTotal = stats.count()
    val preds = Seq(("o_custkey", 300L, 600L), ("oday", 1200L, 1400L))
    val nCust = graft.sources.StatsStore
      .survivingFiles(stats, "o_custkey", 300L, 600L).size
    val nDay = graft.sources.StatsStore
      .survivingFiles(stats, "oday", 1200L, 1400L).size
    val nConj = graft.sources.StatsStore.survivingFilesAll(stats, preds).size
    graft.sources.StatsStore.prunedReadAll(s, s"$tmp/data", stats, preds)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        Exact.sumExact(col("o_totalprice")).as("total"),
        expr("bit_xor(o_orderkey)").as("key_xor"))
      .withColumn("files_pruned", lit(nConj < nTotal))
      .withColumn("conj_beats_single", lit(nConj <= math.min(nCust, nDay)))
      .orderBy("o_orderpriority")
  }

  private val zoneMapSql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
      |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
      |  TRUE AS files_pruned, TRUE AS conj_beats_single
      |FROM orders
      |WHERE o_custkey BETWEEN 300 AND 600
      |  AND date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
      |    BETWEEN 1200 AND 1400
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Personalized PageRank (random walk with restart) over the same
    * bipartite supplier→customer graph as q_pagerank, teleporting only to
    * every-10th supplier (node % 20 = 0 under the 2k/2k+1 encoding) —
    * ranks become proximity to that cohort, the recommendation primitive.
    * Fixed-point integer rounds, replayed bit-exact by the generated
    * oracle (teleport term gated by the same node predicate).
    */
  private val qPpr: Q = (s, dir) =>
    operators.PageRank
      .runPersonalized(suppCustEdges(s, dir), pmod(col("node"), lit(20)) === 0,
        iters = 5, dedup = true)
      .orderBy(col("r").desc, col("node").asc)
      .limit(50)

  private val pprSql: String = {
    val scale = 1000000000000L
    val damping = 850L
    val iters = 5
    val iterCtes = (1 to iters).map { i =>
      s"""it$i AS (
         |  SELECT n.node,
         |    (CASE WHEN n.node % 20 = 0 THEN (SELECT b FROM params) ELSE 0 END)
         |      + COALESCE(c.cs, 0) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM((p.r * $damping) // (1000 * od.od)) AS cs
         |    FROM it${i - 1} p JOIN edges e ON p.node = e.src
         |    JOIN outdeg od ON od.src = e.src
         |    GROUP BY e.dst) c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
       |), outdeg AS (
       |  SELECT src, COUNT(*) AS od FROM edges GROUP BY src
       |), params AS (
       |  SELECT ($scale * ${1000 - damping}) // (1000 * COUNT(*)) AS b,
       |         $scale // COUNT(*) AS r0
       |  FROM nodes WHERE node % 20 = 0
       |), it0 AS (
       |  SELECT node,
       |    CASE WHEN node % 20 = 0 THEN (SELECT r0 FROM params) ELSE 0 END AS r
       |  FROM nodes
       |),
       |$iterCtes
       |SELECT node, CAST(r AS BIGINT) AS r FROM it$iters
       |ORDER BY r DESC, node LIMIT 50""".stripMargin
  }

  /** Min-max feature scaling per group — the normalization step before
    * model features: scaled = (x − min)/(max − min) with min/max exact
    * (no arithmetic, just selection) and one double expression per row,
    * identical in both engines. Emitted for a deterministic customer
    * sample; the stats join is a broadcast of one row per group.
    */
  private val qFeatureScale: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("n_name"),
        col("o_totalprice").as("p"))
    val stats = o.groupBy(col("n_name"))
      .agg(min(col("p")).as("mn"), max(col("p")).as("mx"))
    o.filter(col("o_custkey") <= 50)
      .join(broadcast(stats), "n_name")
      .select(col("o_orderkey"), col("n_name"),
        ((col("p") - col("mn")) / (col("mx") - col("mn"))).as("scaled"))
      .orderBy("o_orderkey")
  }

  private val featureScaleSql =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey, n_name, o_totalprice AS p
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |), s AS (
      |  SELECT n_name, MIN(p) AS mn, MAX(p) AS mx FROM o GROUP BY n_name
      |)
      |SELECT o_orderkey, o.n_name, (p - mn) / (mx - mn) AS scaled
      |FROM o JOIN s USING (n_name)
      |WHERE o_custkey <= 50 ORDER BY o_orderkey""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_profile", Batch, qProfile, profileSql),
    QuerySpec("q_pii_scrub", Batch, qPiiScrub, piiScrubSql),
    QuerySpec("q_url_canonicalize", Batch, qUrlCanonicalize, urlCanonicalizeSql),
    QuerySpec("q_host_stats", Batch, qHostStats, hostStatsSql),
    QuerySpec("q_jaro_winkler", Batch, qJaroWinkler, jaroWinklerSql),
    QuerySpec("q_chisq", Batch, qChisq, chisqSql),
    QuerySpec("q_group_split", Batch, qGroupSplit, groupSplitSql),
    QuerySpec("q_bpe_train", Batch, qBpeTrain, bpeTrainSql),
    QuerySpec("q_bpe_apply", Batch, qBpeApply, bpeApplySql),
    QuerySpec("q_anomaly", Batch, qAnomaly, anomalySql),
    QuerySpec("q_delta_compact", Batch, qDeltaCompact, deltaCompactSql),
    QuerySpec("q_source_mixing", Batch, qSourceMixing, sourceMixingSql),
    QuerySpec("q_zone_map", Batch, qZoneMap, zoneMapSql),
    QuerySpec("q_ppr", Batch, qPpr, pprSql),
    QuerySpec("q_feature_scale", Batch, qFeatureScale, featureScaleSql))
}
