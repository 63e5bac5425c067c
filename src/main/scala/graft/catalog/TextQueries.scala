package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{CountMin, Exact, SketchStore, TextFunctions}
import graft.pipeline.TokenBudget
import org.apache.spark.sql.graftx.{IsolatedSession, RewriteAggToProjection}
import org.apache.spark.sql.graftx.RollingHash.rolling_hash

import CatalogCommon._
import Kind.{Batch, Drain}

/** Text analysis over `documents` (tokenization, language ID, exact,
  * near and sketch-based dedup, quality filters, the training-data
  * pipeline stages), the storage round trips and layouts (JSONL, WARC,
  * CSV, sequence files, JDBC, z-order, bloom and stats pruning, bucketing,
  * compaction) and the materialized-view rewrites.
  */
private[graft] object TextQueries {

  // ------------------------------------------------------------ text analysis

  private val qTokenStats: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.distinctTokenCount(col("text")).as("n_distinct"),
      TextFunctions.regexTokenCount(col("text")).as("n_subword"))
      .orderBy("doc_id")

  private val tokenStatsSql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_subword
      |FROM documents ORDER BY doc_id""".stripMargin

  private val stopListSql = TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private val qTextQuality: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
      TextFunctions.avgTokenLength(col("text")).as("avg_token_len"),
      TextFunctions.typeTokenRatio(col("text")).as("ttr"),
      TextFunctions.qualityLabel(col("text")).as("quality"))
      .orderBy("doc_id")

  private val textQualitySql =
    s"""SELECT doc_id, n_tokens, stop_ratio, avg_token_len, ttr,
       |  CASE WHEN n_tokens < 5 THEN 'too_short'
       |       WHEN ttr < 0.3 THEN 'repetitive'
       |       WHEN stop_ratio > 0.5 THEN 'boilerplate'
       |       ELSE 'ok' END AS quality
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains($stopListSql, t))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
       |    (CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) - 1 AS DOUBLE))
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
       |  FROM documents
       |) t ORDER BY doc_id""".stripMargin

  private val qLangId: Q = (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      TextFunctions.langId(col("text")).as("pred_lang"))
      .withColumn("hit", (col("pred_lang") === col("lang")).cast("boolean"))
      .orderBy("doc_id")

  /** lang-ID oracle generated from the SAME marker lists as the Spark impl. */
  private val langIdSql: String = {
    val markers = TextFunctions.LangMarkers
    val scoreDefs = markers.map { case (lang, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(string_split(text, ' '), t -> list_contains($lst, t))) AS s_$lang"
    }.mkString(",\n    ")
    val cases = markers.zipWithIndex.map { case ((lang, _), i) =>
      val earlier = markers.take(i).map { case (l2, _) => s"s_$lang > s_$l2" }
      val later = markers.drop(i + 1).map { case (l2, _) => s"s_$lang >= s_$l2" }
      val conds = (earlier ++ later :+ s"s_$lang > 0").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n       ", "\n       ", "")
    s"""SELECT doc_id, lang,
       |  CASE$cases
       |  ELSE 'unk' END AS pred_lang,
       |  (CASE$cases
       |  ELSE 'unk' END = lang) AS hit
       |FROM (
       |  SELECT doc_id, lang, text,
       |    $scoreDefs
       |  FROM documents
       |) t ORDER BY doc_id""".stripMargin
  }

  /** Fingerprint-first exact dedup (the 100 TB path: 16-byte shuffle rows,
    * never document bodies — plan-asserted in PlanSpec). The oracle groups by
    * the SAME rolling-hash fold in HUGEINT SQL, so fingerprint collisions —
    * were one ever to appear in the corpus — would surface as a hash
    * mismatch rather than silently passing.
    */
  private val qExactDedup: Q = (s, dir) =>
    Dedup.exactByFingerprint(Tables.documents(s, dir))
      .select(col("canonical_id"), col("n_copies"))
      .orderBy("canonical_id")

  private val exactDedupSql =
    s"""WITH f AS (SELECT doc_id, ${rollingFoldSql("text")} AS h FROM documents)
       |SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
       |FROM f GROUP BY h ORDER BY canonical_id""".stripMargin

  /** Byte-distribution Shannon entropy per document (graftx.ByteEntropy —
    * one-pass codegen kernel): the compressibility quality signal. Rounded
    * to 6 dp on both sides (log2 is transcendental: StrictMath vs libm
    * differ by ulps).
    */
  private val qCharEntropy: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        round(org.apache.spark.sql.graftx.Sketches.byte_entropy(col("text")), 6)
          .as("entropy"))
      .orderBy("doc_id")

  private val charEntropySql =
    """WITH c AS (
      |  SELECT doc_id, ascii(text[g.i]) AS b
      |  FROM documents, UNNEST(generate_series(1, length(text))) AS g(i)
      |), cnt AS (
      |  SELECT doc_id, b, CAST(COUNT(*) AS DOUBLE) AS cnt FROM c GROUP BY 1, 2
      |), n AS (
      |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS n FROM documents
      |), e AS (
      |  SELECT cnt.doc_id, -list_sum(list((cnt/n.n) * log2(cnt/n.n) ORDER BY b)) AS h
      |  FROM cnt JOIN n ON cnt.doc_id = n.doc_id
      |  GROUP BY cnt.doc_id
      |)
      |SELECT d.doc_id, round(COALESCE(e.h, 0.0), 6) AS entropy
      |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Word-shingle frequency via the native GENERATOR expression
    * (graftx.ShingleGenerator — the UDTF extension type): one row per
    * shingle without materializing per-document arrays. The oracle unnests
    * the same clamped shingle definition generated by SketchOracleSql.
    */
  private val qShingleExplode: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        org.apache.spark.sql.graftx.Sketches.shingle_explode(col("text"), 3).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .orderBy(col("n").desc, col("shingle"))

  private val shingleExplodeSql =
    s"""WITH tk0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest(${SketchOracleSql.shingleList(3)}) AS shingle FROM tk0
       |)
       |SELECT shingle, COUNT(*) AS n FROM sh GROUP BY 1 HAVING COUNT(*) >= 5
       |ORDER BY n DESC, shingle""".stripMargin

  /** Dedup on NORMALIZED text (lowercase/punct-strip/space-collapse), again
    * fingerprint-keyed: catches trivial-variant duplicates. The oracle runs
    * the same normalization regexes and the same HUGEINT fold.
    */
  private val qNormalizedDedup: Q = (s, dir) =>
    Dedup.exactByFingerprint(
      Tables.documents(s, dir)
        .withColumn("text", TextFunctions.normalize(col("text"))))
      .select(col("canonical_id"), col("n_copies"))
      .orderBy("canonical_id")

  private val normalizedDedupSql =
    s"""WITH n AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |         ' +', ' ', 'g')) AS text
       |  FROM documents
       |), f AS (SELECT doc_id, ${rollingFoldSql("text")} AS h FROM n)
       |SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
       |FROM f GROUP BY h ORDER BY canonical_id""".stripMargin

  private val qNgramJaccard: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), threshold = 0.6)
      .orderBy("doc_a", "doc_b")

  private val ngramJaccardSql =
    """WITH k AS (
      |  SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
      |    list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jaccard
      |FROM k a JOIN k b ON a.lang = b.lang AND a.len_bucket = b.len_bucket
      |WHERE a.doc_id < b.doc_id
      |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Near-dup pairs → duplicate GROUPS: connected components over the
    * Jaccard pair graph; each doc labeled with its cluster's min doc_id
    * (= the representative an actual dedup would keep).
    */
  private val qDedupClusters: Q = (s, dir) => {
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir), threshold = 0.6)
    graft.operators.ConnectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").cast("long").as("doc_id"),
        col("component").cast("long").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** CC oracle: the SAME pair query as `ngramJaccardSql`, then transitive
    * closure via recursive CTE, label = min reachable id (incl. self).
    */
  private val dedupClustersSql = {
    val pairs = ngramJaccardSql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH RECURSIVE pairs AS (
       |$pairs
       |),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
       |reach(u, v) AS (SELECT u, v FROM edges
       |                UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin
  }

  /** Corpus token frequency (top-100): the explode/Generator surface — the
    * wordcount every text pipeline starts from. Ties broken by token so the
    * LIMIT cut is deterministic.
    */
  private val qWordFreq: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(100)

  private val wordFreqSql =
    """SELECT token, COUNT(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      |WHERE token <> '' GROUP BY token
      |ORDER BY cnt DESC, token LIMIT 100""".stripMargin

  /** Per-language token-budget sampling (pipeline.TokenBudget): the
    * mixture-control step of a training-data pipeline. Hash-ordered running
    * sum per language, whole docs taken while the cumulative token count
    * stays within the language's budget. Fully SQL-expressible → exact
    * oracle.
    */
  private val qTokenBudget: Q = (s, dir) =>
    TokenBudget.sample(Tables.documents(s, dir),
      budgets = Map("en" -> 8000L), defaultBudget = 3000L)
      .orderBy("lang", "rk")

  private val tokenBudgetSql =
    """SELECT lang, rk, doc_id, n_tokens, cum_tokens FROM (
      |  SELECT lang, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rk,
      |    CAST(SUM(len(string_split(text, ' ')))
      |      OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM documents
      |  WINDOW w AS (PARTITION BY lang
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)) t
      |WHERE cum_tokens <= CASE WHEN lang = 'en' THEN 8000 ELSE 3000 END
      |ORDER BY lang, rk""".stripMargin

  /** Count-min-sketch heavy hitters (functions.CountMin): the sketch is
    * engine-specific, so — per the established sketch-oracle pattern — the
    * query emits the EXACT top-20 word counts (SQL-reproducible) plus the
    * CMS guarantees evaluated in-engine as booleans: est ≥ exact always
    * (deterministic CMS property), est ≤ exact + ⌈(e/width)·N⌉ (the ε
    * bound). The oracle recomputes the exact side and expects TRUE flags —
    * a broken sketch flips a boolean and the hash compare goes red.
    */
  private val qHeavyHitters: Q = (s, dir) => {
    val counts = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
    val sketch = CountMin.fromCounts(counts, "token", "n",
      depth = 4, width = 1024)
    val est = CountMin.estimate(sketch, col("token"))
    counts
      .orderBy(col("n").desc, col("token"))
      .limit(20)
      .select(col("token"), col("n"),
        (est >= col("n")).as("est_ge_exact"),
        (est <= col("n") + lit(CountMin.errorBound(sketch)))
          .as("est_within_eps"))
      .orderBy(col("n").desc, col("token"))
  }

  private val heavyHittersSql =
    """SELECT token, n, TRUE AS est_ge_exact, TRUE AS est_within_eps FROM (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      |  WHERE token <> '' GROUP BY token)
      |ORDER BY n DESC, token LIMIT 20""".stripMargin

  /** Within-document repetition signals (Gopher-style quality rule): the
    * fraction of all word 2-grams taken by the most frequent one, and the
    * distinct-2-gram ratio. The stats are a function of each document
    * alone, so a one-pass codegen kernel (graftx.GramStats) computes them
    * at scan speed — ZERO shuffle, vs the two shuffles of the relational
    * explode → count(doc,gram) → per-doc rollup it replaces (both
    * formulations cross-checked in TextSpec). Exact integer counts + one
    * IEEE division → full oracle.
    */
  private val qRepNgrams: Q = (s, dir) =>
    Tables.documents(s, dir)
      .filter(size(TextFunctions.tokens(col("text"))) >= 2)
      .select(col("doc_id"),
        org.apache.spark.sql.graftx.Sketches.gram_stats(col("text")).as("st"))
      .select(col("doc_id"),
        col("st.n_grams").as("n_grams"),
        col("st.n_distinct").as("n_distinct"),
        (col("st.top_n").cast("double") / col("st.n_grams").cast("double"))
          .as("top_frac"),
        (col("st.n_distinct").cast("double") / col("st.n_grams").cast("double"))
          .as("distinct_frac"))
      .orderBy("doc_id")

  private val repNgramsSql =
    """WITH g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
      |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
      |      AS gram
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2
      |), pg AS (
      |  SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY 1, 2
      |)
      |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_grams,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_frac,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS distinct_frac
      |FROM pg GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination (dedup.decontaminate): corpus docs sharing
    * any word 8-gram with the benchmark slice (doc_id % 50 = 0 stands in for
    * an eval suite) are flagged. The engine joins on 64-bit gram
    * fingerprints with the benchmark side broadcast (map-only at corpus
    * scale); the oracle joins on the gram strings — identical semantics
    * unless the fingerprint path is broken, which is exactly what the hash
    * compare would then surface.
    */
  private val qDecontaminate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.decontaminate(docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), n = 8)
      .orderBy("doc_id")
  }

  private val decontaminateSql =
    """WITH s AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks) - 7, 1)),
      |    i -> array_to_string(toks[i:i+7], ' ')))) AS gram
      |  FROM s
      |), bad AS (
      |  SELECT DISTINCT g.doc_id
      |  FROM g JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0) bg
      |    USING (gram)
      |  WHERE g.doc_id % 50 <> 0
      |)
      |SELECT d.doc_id, d.doc_id IN (SELECT doc_id FROM bad) AS contaminated
      |FROM documents d WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin

  /** Span-level exact-substring dedup (Dedup.substringDupPairs, w=1): doc
    * pairs sharing any identical 32-char window, with the count of distinct
    * shared window contents — the ExactSubstr granularity (repeated SPANS,
    * not whole near-dup documents) that suffix-array pipelines target. The
    * kernel (graftx.SubstrAnchors) emits every window's rolling hash in one
    * pass; the pair join keys on the window CONTENT, so hash collisions
    * cannot corrupt the result and the oracle is pure relational SQL.
    */
  private val qSubstringDedup: Q = (s, dir) =>
    // repartition: the SF-scale corpus is one small file = one input split;
    // without the fan-out the whole kernel+partial-agg stage runs on one
    // core (at real scale the scan is already parallel and this is a no-op
    // cost — the shuffle moves each doc once)
    Dedup.substringDupPairs(
      Tables.documents(s, dir).repartition(col("doc_id")), k = 32, w = 1)
      .orderBy("doc_a", "doc_b")

  /** Winnowed span-level dedup (Dedup.substringDupPairs, w=16): the scale
    * path — anchors thinned to ~2/(w+1) density by sliding-window-minimum
    * selection (Schleimer/Wilkes/Aiken winnowing) with the deterministic
    * guarantee that any shared span of length >= k+w-1 (47 chars here)
    * still collides in both docs. The oracle replays the kernel bit-for-bit
    * (mod-2^64 window hashes, packed selection keys, window minima) in
    * HUGEINT SQL, then runs the same content-keyed pair join.
    */
  private val qWinnowPairs: Q = (s, dir) =>
    Dedup.substringDupPairs(
      Tables.documents(s, dir).repartition(col("doc_id")), k = 32, w = 16)
      .orderBy("doc_a", "doc_b")

  /** Bloom-prefiltered decontamination (dedup.decontaminateBloom): same
    * exact semantics as q_decontaminate, different physical shape — the
    * benchmark grams become ONE bloom blob (Spark's BloomFilterAggregate,
    * exposed via graftx), the corpus grams are pruned map-side by a codegen
    * might_contain before any shuffle, and only the survivors reach the
    * exact join that removes false positives. Because the bloom is a
    * prefilter, not the answer, the result is exact and shares the plain
    * decontaminate oracle.
    */
  private val qBloomDecontaminate: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.decontaminateBloom(docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), n = 8)
      .orderBy("doc_id")
  }

  /** Blocked fuzzy self-join (operators.FuzzyJoin): distinct part names at
    * edit distance ≤3, blocked on the noun token — levenshtein exists in
    * both engines so the oracle verifies the full pair set and distances
    * exactly (blocking predicate reproduced verbatim in SQL).
    */
  private val qFuzzyJoin: Q = (s, dir) =>
    operators.FuzzyJoin.selfJoin(Tables.part(s, dir), "p_name",
        name => element_at(split(name, " "), 2), maxDist = 3)
      .orderBy("name_a", "name_b")

  private val fuzzyJoinSql =
    """WITH names AS (SELECT DISTINCT p_name AS name FROM part)
      |SELECT a.name AS name_a, b.name AS name_b,
      |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      |FROM names a JOIN names b
      |  ON split_part(a.name, ' ', 2) = split_part(b.name, ' ', 2)
      | AND a.name < b.name
      |WHERE levenshtein(a.name, b.name) <= 3
      |ORDER BY 1, 2""".stripMargin

  /** Subword tokenization (graftx.SubwordPieces — greedy longest-match
    * WordPiece inference as a codegen'd native expression): per-document
    * piece count + an order-sensitive fingerprint of the full piece
    * sequence. The oracle REPLAYS greedy matching in a recursive CTE over
    * the distinct words with the same vocab list literal (generated from
    * the same Scala constants) — piece boundaries, order and count are all
    * hash-checked, not just totals.
    */
  private val qSubwordTokens: Q = (s, dir) => {
    import org.apache.spark.sql.graftx.WordPiece.subword_pieces
    Tables.documents(s, dir)
      .select(col("doc_id"), subword_pieces(col("text")).as("pieces"))
      .select(col("doc_id"), size(col("pieces")).cast("long").as("n_pieces"),
        rolling_hash(array_join(col("pieces"), "\u0001")).as("pieces_fp"))
      .orderBy("doc_id")
  }

  private def subwordTokensSqlGen: String =
    s"""WITH RECURSIVE ${subwordCtes("documents")}, agg AS (
       |  SELECT t.doc_id, SUM(len(d.pieces)) AS n_pieces,
       |    string_agg(array_to_string(d.pieces, chr(1)), chr(1) ORDER BY t.ord) AS allp
       |  FROM toks t JOIN done d USING (word) GROUP BY t.doc_id)
       |SELECT doc_id, CAST(n_pieces AS BIGINT) AS n_pieces,
       |  ${u64ToSigned(rollingFoldSql("allp"))} AS pieces_fp
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Tokenizer fertility per language (pieces-per-word — THE metric for
    * how well a subword vocab fits each language; high fertility inflates
    * effective sequence length and training cost). Subword pieces come
    * from the codegen WordPiece tokenizer (map-only), words from the
    * whitespace split; per-language sums give integer-exact fertility in
    * milli-units. The oracle replays the greedy tokenizer via the shared
    * recursive-CTE chain.
    */
  private val qTokenizerFertility: Q = (s, dir) => {
    import org.apache.spark.sql.graftx.WordPiece.subword_pieces
    Tables.documents(s, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        size(subword_pieces(col("text"))).cast("long").as("n_pieces"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"))
      .withColumn("fertility_milli", expr("n_pieces * 1000 div n_words"))
      .orderBy("lang")
  }

  private def tokenizerFertilitySqlGen: String =
    s"""WITH RECURSIVE ${subwordCtes("documents")}, perdoc AS (
       |  SELECT t.doc_id, SUM(len(d.pieces)) AS n_pieces
       |  FROM toks t JOIN done d USING (word) GROUP BY t.doc_id),
       |base AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(n_pieces) * 1000 // SUM(n_words) AS BIGINT)
       |    AS fertility_milli
       |FROM base JOIN perdoc USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** v3 composed pipeline (pipeline.TrainingDataPipeline.summaryV3): the
    * LEARNED-model flow — hashed-linear classifier gate → exact dedup →
    * per-language token budget costed in SUBWORD pieces (the unit an LLM
    * trains on). The oracle replays classifier scoring, dedup, the greedy
    * subword tokenizer (recursive CTE) and the budget window end to end.
    */
  private val qTrainingPipelineV3: Q = (s, dir) =>
    pipeline.TrainingDataPipeline.summaryV3(Tables.documents(s, dir),
      budgets = Map("en" -> 20000L), defaultBudget = 8000L)

  private def trainingPipelineV3SqlGen: String =
    s"""WITH RECURSIVE gated AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE ${graft.quality.LinearScorer.scoreSql("text")} > 0
       |), src AS (
       |  SELECT g.* FROM gated g
       |  WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY text)
       |), ${subwordCtes("src")}, np AS (
       |  SELECT t.doc_id, CAST(SUM(len(d.pieces)) AS BIGINT) AS n_pieces
       |  FROM toks t JOIN done d USING (word) GROUP BY t.doc_id
       |), sel AS (
       |  SELECT s.lang, s.doc_id,
       |    SUM(COALESCE(n.n_pieces, 0)) OVER (PARTITION BY s.lang
       |      ORDER BY md5(CAST(s.doc_id AS VARCHAR)), s.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM src s LEFT JOIN np n USING (doc_id)
       |)
       |SELECT lang, COUNT(*) AS n_docs, CAST(MAX(cum) AS BIGINT) AS pieces_used,
       |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
       |  MAX(cum) <= CASE WHEN lang = 'en' THEN 20000 ELSE 8000 END AS within_budget
       |FROM sel WHERE cum <= CASE WHEN lang = 'en' THEN 20000 ELSE 8000 END
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** End-to-end entity resolution: blocked fuzzy candidate pairs
    * (operators.FuzzyJoin) → connected components over the match graph
    * (operators.ConnectedComponents, nodes = 64-bit name hashes so the CC
    * loop shuffles 16-byte rows, never strings) → canonical record = the
    * lexicographic min name per component → every record mapped to its
    * canonical + cluster size (singletons canonicalize to themselves).
    * The oracle replays the pair predicate verbatim and closes it with a
    * recursive CTE — the full record-linkage pipeline, hash-checked.
    */
  private val qEntityResolution: Q = (s, dir) => {
    val names = Tables.part(s, dir).select(col("p_name").as("name")).distinct()
    val pairs = operators.FuzzyJoin.selfJoin(Tables.part(s, dir), "p_name",
      name => element_at(split(name, " "), 2), maxDist = 3)
    val cc = graft.operators.ConnectedComponents(
      pairs.select(rolling_hash(col("name_a")).as("src"),
        rolling_hash(col("name_b")).as("dst")))
    val withComp = names
      .join(cc.withColumnRenamed("id", "nid"),
        rolling_hash(col("name")) === col("nid"), "left")
    val canon = withComp.filter(col("component").isNotNull)
      .groupBy("component").agg(min(col("name")).as("cname"))
    val resolved = withComp.join(canon, Seq("component"), "left")
      .select(col("name"), coalesce(col("cname"), col("name")).as("canonical"))
    // cluster size via a window on the canonical partitioning (degree-
    // bounded groups) — one shuffle, where groupBy+join back costs two
    resolved
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("canonical"))))
      .select(col("name"), col("canonical"), col("n_members"))
      .orderBy("name")
  }

  private val entityResolutionSql =
    """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
      |pairs AS (
      |  SELECT a.name AS name_a, b.name AS name_b
      |  FROM names a JOIN names b
      |    ON split_part(a.name, ' ', 2) = split_part(b.name, ' ', 2)
      |   AND a.name < b.name
      |  WHERE levenshtein(a.name, b.name) <= 3),
      |edges AS (SELECT name_a AS u, name_b AS v FROM pairs
      |          UNION SELECT name_b AS u, name_a AS v FROM pairs),
      |reach(u, v) AS (SELECT u, v FROM edges
      |                UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (SELECT u AS name, LEAST(u, MIN(v)) AS cname FROM reach GROUP BY u),
      |resolved AS (
      |  SELECT n.name, COALESCE(c.cname, n.name) AS canonical
      |  FROM names n LEFT JOIN comp c ON n.name = c.name)
      |SELECT name, canonical,
      |  COUNT(*) OVER (PARTITION BY canonical) AS n_members
      |FROM resolved ORDER BY name""".stripMargin

  /** Corpus-frequency boilerplate removal (pipeline.Boilerplate): the
    * C4-style "drop lines repeated across many pages" cleanup over 2-token
    * chunks — chunk df > 20 is boilerplate, survivors reassembled in
    * order. Fully SQL-expressible, so the oracle checks the reassembled
    * text verbatim.
    */
  private val qBoilerplate: Q = (s, dir) =>
    pipeline.Boilerplate.removeFrequentChunks(
        Tables.documents(s, dir), chunkLen = 2, maxDf = 20)
      .orderBy("doc_id")

  private val boilerplateSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (
      |  SELECT doc_id, i, array_to_string(toks[(i-1)*2+1:(i-1)*2+2], ' ') AS chunk
      |  FROM t, UNNEST(generate_series(1, CAST(ceil(len(toks)/2.0) AS INT))) AS u(i)),
      |f AS (SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM c GROUP BY 1)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN df > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  COALESCE(string_agg(chunk, ' ' ORDER BY i) FILTER (WHERE df <= 20), '')
      |    AS kept_text
      |FROM c JOIN f USING (chunk)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Source-preference dedup (dedup.preferredCopy): a curated overlay
    * (every fifth doc, re-identified) collides with the web corpus; the
    * curated copy must win every collision. The oracle replays the same
    * rolling-hash fingerprint election in HUGEINT SQL, so both the winner
    * choice and the survivor set are value-checked.
    */
  private val qSourcePrefDedup: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source"))
    val overlay = d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        lit("curated").as("source"))
    val all = d.unionByName(overlay)
    Dedup.preferredCopy(all,
        when(col("source") === "curated", lit(0)).otherwise(lit(1)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy("source")
  }

  private val sourcePrefDedupSql =
    s"""WITH all_docs AS (
       |  SELECT doc_id, text, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text, 'curated' FROM documents WHERE doc_id % 5 = 0),
       |f AS (
       |  SELECT doc_id, source, ${rollingFoldSql("text")} AS fp,
       |    CASE WHEN source = 'curated' THEN 0 ELSE 1 END AS prio
       |  FROM all_docs),
       |w AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY fp ORDER BY prio, doc_id) AS rn
       |  FROM f)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM w WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cross-source overlap matrix: distinct word bigrams per source,
    * pairwise shared-gram counts — the dataset-curation "how much do my
    * sources overlap" report. Equality join on the gram (hash-partitioned;
    * per-gram fan-out bounded by source-pair cardinality, never rows²).
    */
  private val qSourceOverlap: Q = (s, dir) => {
    val g = Tables.documents(s, dir)
      .select(col("source"),
        explode(TextFunctions.wordShingles(col("text"), 2)).as("gram"))
      .distinct()
    val a = g.select(col("source").as("src_a"), col("gram"))
    val b = g.select(col("source").as("src_b"), col("gram"))
    a.join(b, Seq("gram")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared"))
      .orderBy("src_a", "src_b")
  }

  private val sourceOverlapSql =
    """WITH s AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT DISTINCT source, unnest(list_transform(
      |    generate_series(1, greatest(len(toks) - 1, 1)),
      |    i -> array_to_string(toks[i:i+1], ' '))) AS gram
      |  FROM s)
      |SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS shared
      |FROM g a JOIN g b USING (gram)
      |WHERE a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Vertica-style aggregate projection (etl.AggProjection): build over
    * pre-1997 facts, incrementally maintain with the 1997+ batch (partials
    * appended, old facts never re-read), answer the GROUP BY from stored
    * partials only. The oracle aggregates the raw facts directly — the
    * hash matches only if build+maintain+merge lose nothing.
    */
  private val qMvProjection: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mv").toString
    val l = Tables.lineitem(s, dir)
    val groups = Seq("l_returnflag", "l_linestatus")
    val measures = Seq("l_quantity", "l_extendedprice")
    val cut = lit("1997-01-01")
    etl.AggProjection.build(l.filter(col("l_shipdate") < cut), groups, measures,
      s"$tmp/proj")
    etl.AggProjection.maintain(l.filter(col("l_shipdate") >= cut), groups,
      measures, s"$tmp/proj")
    etl.AggProjection.answer(s, s"$tmp/proj", groups, measures)
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val mvProjectionSql =
    """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_quantity,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_extendedprice
      |FROM lineitem
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Projection REWRITE (graftx.RewriteAggToProjection): the query below is
    * the naive fact-table aggregate; with the rule registered, its
    * canonicalized plan matches the MvRegistry entry and execution is
    * rerouted to the projection partials (fact never scanned —
    * plan-asserted in OperatorsSpec). The oracle aggregates the facts
    * directly, hash-proving the swap is semantics-preserving.
    */
  private val qMvRewrite: Q = (s, dir) => {
    import org.apache.spark.sql.graftx.MvRegistry
    val tmp = java.nio.file.Files.createTempDirectory("graft-mvr").toString
    val groups = Seq("l_returnflag")
    val measures = Seq("l_extendedprice")
    etl.AggProjection.build(Tables.lineitem(s, dir), groups, measures, s"$tmp/proj")
    def naive(on: SparkSession) = Tables.lineitem(on, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        Exact.sumExact(col("l_extendedprice")).as("sum_l_extendedprice"))
      .orderBy("l_returnflag")
    val viaMv = etl.AggProjection.answer(s, s"$tmp/proj", groups, measures)
      .orderBy("l_returnflag")
    MvRegistry.register(naive(s), viaMv)
    // a FRESH naive plan — matched by canonical equality, not identity
    naive(withMvRewrite(s))
  }

  /** A clone of `s` that plans with [[RewriteAggToProjection]] on; `s`
    * stays as it was.
    */
  private def withMvRewrite(s: SparkSession): SparkSession =
    IsolatedSession(s, Map("spark.graft.mv.rewrite" -> "true"), Seq(RewriteAggToProjection))

  private val mvRewriteSql =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_l_extendedprice
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** PRE-JOIN projection — the other half of Vertica's projection concept
    * (q_mv_projection/q_mv_rewrite cover the aggregate half): the fact
    * DENORMALIZED with its dimension at load time, so serving queries
    * never pay the join. The store is built once; the declared query is a
    * FRESH naive join+aggregate whose canonical plan the rewrite rule
    * swaps for the store scan — the join is provably gone (no join node,
    * neither base table scanned; asserted in OperatorsSpec). The oracle
    * answers the naive join directly, so the hash also proves the
    * projection is semantically transparent.
    */
  private val qMvPrejoin: Q = (s, dir) => {
    import org.apache.spark.sql.graftx.MvRegistry
    val tmp = java.nio.file.Files.createTempDirectory("graft-mvpj").toString
    etl.PrejoinProjection.build(Tables.orders(s, dir),
      Tables.customer(s, dir), col("o_custkey") === col("c_custkey"),
      Seq(col("o_orderkey"), col("o_totalprice"), col("c_mktsegment")),
      s"$tmp/prejoin")
    val store = etl.PrejoinProjection.answer(s, s"$tmp/prejoin")
    def agg(src: DataFrame) = src
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(o_orderkey)").as("key_xor"),
        Exact.sumExact(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
    def naive(on: SparkSession) = agg(Tables.orders(on, dir).join(Tables.customer(on, dir),
      col("o_custkey") === col("c_custkey")))
    MvRegistry.register(naive(s), agg(store))
    naive(withMvRewrite(s)) // fresh plan — rerouted by canonical equality, not identity
  }

  private val mvPrejoinSql =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** HLL intersection estimate (SketchStore.estimateIntersection):
    * customer overlap between the year's two halves answered from STORED
    * month sketches by inclusion–exclusion — sketches union exactly but
    * can't intersect, so this is the standard estimator and its error
    * compounds across three estimates. Exact overlap counts are the
    * oracle-reproducible columns; the estimator's accuracy (within 10% of
    * the exact union) is emitted as in-engine booleans, per the
    * established sketch contract.
    */
  private val qSketchIntersect: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(monthSid(col("o_orderdate")).as("month_sid"), col("o_custkey"))
    val sk = SketchStore.build(o, col("month_sid"), col("o_custkey"))
      .withColumnRenamed("g", "month_sid")
    val h1 = sk.filter(col("month_sid") % 100 <= 6)
    val h2 = sk.filter(col("month_sid") % 100 > 6)
    val est = SketchStore.estimateIntersection(h1, h2)
    val exact = o.select(col("o_custkey"),
        (col("month_sid") % 100 <= 6).as("inH1"))
      .groupBy("o_custkey")
      .agg(max(when(col("inH1"), 1).otherwise(0)).as("a"),
        max(when(!col("inH1"), 1).otherwise(0)).as("b"))
      .agg(sum(col("a")).as("exact_a"), sum(col("b")).as("exact_b"),
        sum(col("a") * col("b")).as("exact_both"),
        count(lit(1)).as("exact_union"))
    exact.crossJoin(broadcast(est)).select(
      col("exact_a"), col("exact_b"), col("exact_both"), col("exact_union"),
      (abs(col("est_a") - col("exact_a")) <= col("exact_union") * 0.1)
        .as("ok_a"),
      (abs(col("est_b") - col("exact_b")) <= col("exact_union") * 0.1)
        .as("ok_b"),
      (abs(col("est_intersection") - col("exact_both"))
        <= col("exact_union") * 0.1).as("ok_intersection"))
  }

  private val sketchIntersectSql =
    """WITH pm AS (
      |  SELECT o_custkey,
      |    MAX(CASE WHEN month(o_orderdate) <= 6 THEN 1 ELSE 0 END) AS a,
      |    MAX(CASE WHEN month(o_orderdate) > 6 THEN 1 ELSE 0 END) AS b
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT CAST(SUM(a) AS BIGINT) AS exact_a,
      |  CAST(SUM(b) AS BIGINT) AS exact_b,
      |  CAST(SUM(a * b) AS BIGINT) AS exact_both,
      |  COUNT(*) AS exact_union,
      |  TRUE AS ok_a, TRUE AS ok_b, TRUE AS ok_intersection
      |FROM pm""".stripMargin

  /** Mergeable HLL sketch store (functions.SketchStore): one sketch per
    * order-month persisted to parquet, distinct-customer questions over
    * month SUBSETS answered by unioning stored sketches (never re-scanning
    * orders). Engine-specific sketch → the established contract: exact
    * values (oracle-reproducible) + the ±5% estimate check emitted as a
    * boolean (HLL lgK=12 rel. err ≈1.6%).
    */
  private val qSketchStore: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-hll").toString
    val o = Tables.orders(s, dir)
      .select(monthSid(col("o_orderdate")).as("month_sid"), col("o_custkey"))
    SketchStore.build(o, col("month_sid"), col("o_custkey"))
      .withColumnRenamed("g", "month_sid")
      .write.mode("overwrite").parquet(s"$tmp/sketches")
    val sk = s.read.parquet(s"$tmp/sketches")
    def subset(name: String, pred: Column): DataFrame = {
      val est = SketchStore.estimateUnion(sk.filter(pred))
        .withColumnRenamed("n_groups", "n_months")
      val exact = o.filter(pred)
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      est.crossJoin(broadcast(exact))
        .select(lit(name).as("subset"), col("n_months"), col("n_exact"),
          (abs(col("est") - col("n_exact")).cast("double") /
            col("n_exact").cast("double") <= lit(0.05)).as("est_ok"))
    }
    subset("all", lit(true))
      .unionByName(subset("m199706", col("month_sid") === 199706L))
      .unionByName(subset("y1997",
        col("month_sid") >= 199701L && col("month_sid") <= 199712L))
      .orderBy("subset")
  }

  private val sketchStoreSql = {
    def row(name: String, where: String) =
      s"""SELECT '$name' AS subset,
         |  CAST(COUNT(DISTINCT month_sid) AS BIGINT) AS n_months,
         |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
         |  TRUE AS est_ok
         |FROM m WHERE $where""".stripMargin
    s"""WITH m AS (
       |  SELECT $monthSidSql AS month_sid, o_custkey FROM orders)
       |${row("all", "TRUE")}
       |UNION ALL
       |${row("m199706", "month_sid = 199706")}
       |UNION ALL
       |${row("y1997", "month_sid BETWEEN 199701 AND 199712")}
       |ORDER BY subset""".stripMargin
  }

  /** Mergeable KLL quantile store (functions.QuantileStore), same contract
    * as the HLL store: per-month sketches persisted once, month-subset
    * percentile questions answered by merging stored sketch bytes — never
    * re-scanning facts. Row counts carried by the sketches are hash-checked
    * exactly against the oracle; the p50/p95 readouts are checked in-engine
    * by computing their EXACT ranks over the subset and asserting they land
    * within KLL's rank error (±3% at k=200, comfortably above the ~0.7%
    * expected) — emitted as booleans the oracle expects TRUE, because the
    * KLL compaction coin-flip makes raw estimates non-reproducible across
    * engines (same device as q_approx_distinct).
    */
  private val qQuantileStore: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-kll").toString
    val o = Tables.orders(s, dir)
      .select(monthSid(col("o_orderdate")).as("month_sid"),
        col("o_totalprice").cast("float").as("v"))
    graft.functions.QuantileStore.build(o, col("month_sid"), col("v"))
      .withColumnRenamed("g", "month_sid")
      .write.mode("overwrite").parquet(s"$tmp/sketches")
    val sk = s.read.parquet(s"$tmp/sketches")
    def subset(name: String, pred: Column): DataFrame = {
      val sel = sk.filter(pred)
      val merged = graft.functions.QuantileStore.mergeAll(sel)
      val (q50, q95) = (merged.getQuantile(0.5), merged.getQuantile(0.95))
      val stats = sel.agg(count(lit(1)).as("n_months"),
        sum(col("n")).cast("long").as("n_rows"))
      val exact = o.filter(pred).agg(
        count(lit(1)).as("n_exact"),
        (sum(when(col("v") <= lit(q50), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("r50"),
        (sum(when(col("v") <= lit(q95), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("r95"))
      // accuracy bound = KLL rank error (±3% at k=200) + 1/n readout
      // granularity: the achievable rank fractions are k/n, so for a tiny
      // subset the nearest achievable point to φ can itself be 1/n away
      // (r12 fix: the m199706 subset at sf0.001 has n=17 — r95 can only be
      // 16/17=0.941 or 17/17=1.0, and the exact-sketch readout of
      // rank ⌈0.95·17⌉ is 1.0, outside a bare ±3%). Booleans stay the
      // oracle-expected TRUE at every SF; the claim is now satisfiable by
      // construction at any n.
      val slack = lit(0.03) + lit(1.0) / col("n_exact").cast("double")
      stats.crossJoin(broadcast(exact))
        .select(lit(name).as("subset"), col("n_months"), col("n_rows"),
          col("n_exact"),
          (col("n_rows") === col("n_exact")).as("count_ok"),
          (abs(col("r50") - lit(0.5)) <= slack).as("r50_ok"),
          (abs(col("r95") - lit(0.95)) <= slack).as("r95_ok"))
    }
    subset("all", lit(true))
      .unionByName(subset("m199706", col("month_sid") === 199706L))
      .unionByName(subset("y1997",
        col("month_sid") >= 199701L && col("month_sid") <= 199712L))
      .orderBy("subset")
  }

  private val quantileStoreSql = {
    def row(name: String, where: String) =
      s"""SELECT '$name' AS subset,
         |  CAST(COUNT(DISTINCT month_sid) AS BIGINT) AS n_months,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  TRUE AS count_ok, TRUE AS r50_ok, TRUE AS r95_ok
         |FROM m WHERE $where""".stripMargin
    s"""WITH m AS (
       |  SELECT $monthSidSql AS month_sid FROM orders)
       |${row("all", "TRUE")}
       |UNION ALL
       |${row("m199706", "month_sid = 199706")}
       |UNION ALL
       |${row("y1997", "month_sid BETWEEN 199701 AND 199712")}
       |ORDER BY subset""".stripMargin
  }

  /** JSONL round-trip (sources.Sources.jsonl/jsonlWrite): documents out to
    * gzip line-JSON and back with an explicit schema, then aggregated with
    * an order-free 64-bit content checksum (bit_xor of rolling hashes) per
    * language. The oracle aggregates the ORIGINAL table — the hash matches
    * only if every row and every text byte survived the format hop.
    */
  private val qJsonlRoundtrip: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val docs = Tables.documents(s, dir)
    graft.sources.Sources.jsonlWrite(docs, s"$tmp/docs", partitions = 4)
    graft.sources.Sources.jsonl(s, s"$tmp/docs", docs.schema)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        rolling_hash(col("text")).as("fp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
        expr("bit_xor(doc_id)").as("id_xor"),
        expr("bit_xor(fp)").as("text_xor"))
      .orderBy("lang")
  }

  private def jsonlRoundtripSqlGen: String =
    s"""SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
       |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
       |  CAST(bit_xor(${u64ToSigned(rollingFoldSql("text"))}) AS BIGINT) AS text_xor
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Zstd-compressed JSONL corpus shards (sources.Sources.jsonlZst*): the
    * de-facto public-corpus interchange layout (`part-*.jsonl.zst`, one
    * non-splittable shard per task both ways). Documents stream out
    * through the zstd sink and back with an explicit schema, then
    * aggregate per source with order-free 64-bit content checksums — the
    * oracle aggregates the ORIGINAL table, so the hash matches only if
    * every row, every text byte, and the lang attribute survived the
    * compress → shard → decompress → from_json hop.
    */
  private val qCorpusZst: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonlzst").toString
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    graft.sources.Sources.jsonlZstWrite(docs, s"$tmp/corpus", numShards = 5)
    graft.sources.Sources.jsonlZst(s, s"$tmp/corpus", docs.schema)
      .select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("chars"),
        rolling_hash(col("text")).as("fp"),
        rolling_hash(col("lang")).as("lfp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("chars")).as("chars"),
        expr("bit_xor(doc_id)").as("id_xor"),
        expr("bit_xor(fp)").as("text_xor"),
        expr("bit_xor(lfp)").as("lang_xor"))
      .orderBy("source")
  }

  private def corpusZstSqlGen: String =
    s"""SELECT source, COUNT(*) AS n,
       |  CAST(SUM(length(text)) AS BIGINT) AS chars,
       |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
       |  CAST(bit_xor(${u64ToSigned(rollingFoldSql("text"))}) AS BIGINT) AS text_xor,
       |  CAST(bit_xor(${u64ToSigned(rollingFoldSql("lang"))}) AS BIGINT) AS lang_xor
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** WARC round-trip (sources.Warc): documents out to gzip'd WARC archives
    * (the Common Crawl interchange shape — Content-Length-framed records,
    * one non-splittable archive per partition) and parsed back, then
    * aggregated per source with order-free content checksums. The oracle
    * aggregates the ORIGINAL table — the hash matches only if every record,
    * every text byte and both carried attributes survived the format hop.
    */
  private val qWarcRoundtrip: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-warc").toString
    graft.sources.Warc.write(Tables.documents(s, dir), s"$tmp/crawl",
      numFiles = 6)
    graft.sources.Warc.read(s, s"$tmp/crawl")
      .select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("chars"),
        rolling_hash(col("text")).as("fp"),
        rolling_hash(col("lang")).as("lfp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("chars")).as("chars"),
        expr("bit_xor(doc_id)").as("id_xor"),
        expr("bit_xor(fp)").as("text_xor"),
        expr("bit_xor(lfp)").as("lang_xor"))
      .orderBy("source")
  }

  private[catalog] def warcRoundtripSqlGen: String =
    s"""SELECT source, COUNT(*) AS n,
       |  CAST(SUM(length(text)) AS BIGINT) AS chars,
       |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
       |  CAST(bit_xor(${u64ToSigned(rollingFoldSql("text"))}) AS BIGINT) AS text_xor,
       |  CAST(bit_xor(${u64ToSigned(rollingFoldSql("lang"))}) AS BIGINT) AS lang_xor
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Gopher document-level rule filter (quality.RuleFilters.gopher): the
    * published rule bundle — word-count band, mean-word-length band,
    * symbol-to-word ratio, alphabetic-word ratio, required-stopword hits —
    * as ONE map-only codegen projection, thresholds in integer
    * cross-multiplied form so every boolean is bit-exact. The oracle
    * recomputes each rule from the same constants in DuckDB list SQL.
    */
  private val qGopherRules: Q = (s, dir) => {
    graft.quality.RuleFilters.gopher(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")))
      .drop("text")
      .orderBy("doc_id")
  }

  private val gopherRulesSql = {
    import graft.quality.RuleFilters._
    val stop = graft.functions.TextFunctions.EnglishStopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT)
       |      AS word_chars,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
       |    CAST((length(text) - length(replace(text, '#', ''))) +
       |      (length(text) - length(replace(text, '...', ''))) // 3
       |      AS BIGINT) AS symbols,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      w -> list_contains($stop, w))) AS BIGINT) AS stop_hits
       |  FROM documents)
       |SELECT doc_id, lang,
       |  (n_words >= $MinWords AND n_words <= $MaxWords) AS word_count_ok,
       |  (word_chars >= $MinMeanWordLen * n_words AND
       |   word_chars <= $MaxMeanWordLen * n_words) AS mean_word_len_ok,
       |  (symbols * 10 < n_words) AS symbol_ratio_ok,
       |  (alpha_words * 5 >= n_words * 4) AS alpha_ratio_ok,
       |  (stop_hits >= $MinStopwordHits) AS stopwords_ok,
       |  ((n_words >= $MinWords AND n_words <= $MaxWords) AND
       |   (word_chars >= $MinMeanWordLen * n_words AND
       |    word_chars <= $MaxMeanWordLen * n_words) AND
       |   (symbols * 10 < n_words) AND
       |   (alpha_words * 5 >= n_words * 4) AND
       |   (stop_hits >= $MinStopwordHits)) AS keep
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** HTML → text extraction (pipeline.HtmlExtract): each document becomes
    * a deterministic synthetic PAGE — title, style + script blocks (whose
    * content must vanish), two paragraphs, an entity (`&amp;`), an anchor
    * carrying 4 tokens, an HTML comment — and the extractor strips blocks,
    * strips tags, decodes entities, and collapses whitespace as one
    * map-only codegen regex chain; link density comes out in exact integer
    * form. The oracle rebuilds the identical page in SQL and replays the
    * SAME regex chain (generated from the same pattern constants), so the
    * extracted-text fingerprint matches only if every removal, decode, and
    * collapse is byte-exact.
    */
  private val qHtmlExtract: Q = (s, dir) => {
    import graft.pipeline.HtmlExtract
    val toks = split(col("text"), " ")
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>Doc "), id, lit("</title>"),
      lit("<style>body { color: #000; }</style>"),
      lit("<script>var n = "), id, lit("; if (n &lt; 0) {}</script>"),
      lit("</head><body><h1>Doc "), id, lit("</h1>"),
      lit("<p>"), array_join(slice(toks, 1, 12), " "), lit(" &amp; more</p>"),
      lit("<a href=\"/doc/"), id, lit("\">"),
      array_join(slice(toks, 13, 4), " "), lit("</a>"),
      lit("<!-- crawler: ignore -->"),
      lit("<p>"), array_join(slice(toks, 17, 1000000), " "),
      lit("</p></body></html>"))
    Tables.documents(s, dir)
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        HtmlExtract.title(col("html")).as("title"),
        length(HtmlExtract.text(col("html"))).cast("long").as("text_chars"),
        rolling_hash(HtmlExtract.text(col("html"))).as("text_fp"),
        length(HtmlExtract.anchorText(col("html"))).cast("long")
          .as("anchor_chars"),
        HtmlExtract.lowLinkDensity(col("html")).as("low_link_density"))
      .orderBy("doc_id")
  }

  private def htmlExtractSqlGen: String = {
    import graft.pipeline.HtmlExtract
    val htmlExpr =
      """'<html><head><title>Doc ' || doc_id || '</title>' ||
        |'<style>body { color: #000; }</style>' ||
        |'<script>var n = ' || doc_id || '; if (n &lt; 0) {}</script>' ||
        |'</head><body><h1>Doc ' || doc_id || '</h1>' ||
        |'<p>' || array_to_string(toks[1:12], ' ') || ' &amp; more</p>' ||
        |'<a href="/doc/' || doc_id || '">' ||
        |(CASE WHEN len(toks) >= 13
        |      THEN array_to_string(toks[13:16], ' ') ELSE '' END) || '</a>' ||
        |'<!-- crawler: ignore -->' ||
        |'<p>' || (CASE WHEN len(toks) >= 17
        |          THEN array_to_string(toks[17:len(toks)], ' ') ELSE '' END) ||
        |'</p></body></html>'""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (SELECT doc_id, $htmlExpr AS html FROM t),
       |x AS (
       |  SELECT doc_id, html,
       |    ${HtmlExtract.textSql("html")} AS txt,
       |    ${HtmlExtract.anchorTextSql("html")} AS atxt
       |  FROM h)
       |SELECT doc_id,
       |  ${HtmlExtract.titleSql("html")} AS title,
       |  CAST(length(txt) AS BIGINT) AS text_chars,
       |  CAST(${u64ToSigned(rollingFoldSql("txt"))} AS BIGINT) AS text_fp,
       |  CAST(length(atxt) AS BIGINT) AS anchor_chars,
       |  (length(atxt) * 10 <= length(txt) * 3) AS low_link_density
       |FROM x ORDER BY doc_id""".stripMargin
  }

  /** C4 line-level cleaning (quality.RuleFilters.c4KeptLines/c4PageDrop):
    * each document becomes a deterministic synthetic PAGE — 8-token lines,
    * terminal '.' on lines where (doc_id+i)%3≠0, '- ' bullet prefix where
    * (doc_id+i)%5=0, a "lorem ipsum" line appended on doc_id%97=0 — then
    * the published line rules run as one codegen projection: keep lines
    * ending in terminal punctuation with ≥4 words that aren't bullets;
    * drop pages containing a blocklisted phrase or braces. Output carries
    * a rolling-hash fingerprint of the CLEANED text, so the oracle (which
    * rebuilds the page and replays the rules in DuckDB list SQL) matches
    * only if line synthesis, filtering, and reassembly are byte-exact.
    */
  private val qC4LineFilter: Q = (s, dir) => {
    import graft.quality.RuleFilters
    val toks = split(col("text"), " ")
    val baseLines = transform(
      sequence(lit(0), ((size(toks) + lit(7)) / lit(8)).cast("int") - lit(1)),
      i => {
        val base = array_join(slice(toks, i * lit(8) + lit(1), lit(8)), " ")
        val bullet = when((col("doc_id") + i) % 5 === 0,
          concat(lit("- "), base)).otherwise(base)
        when((col("doc_id") + i) % 3 =!= 0, concat(bullet, lit(".")))
          .otherwise(bullet)
      })
    val lines = when(col("doc_id") % 97 === 0,
      concat(baseLines, array(lit("lorem ipsum dolor sit amet."))))
      .otherwise(baseLines)
    Tables.documents(s, dir)
      .select(col("doc_id"), lines.as("lines"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(RuleFilters.c4KeptLines(col("lines"))).cast("long").as("n_kept"),
        rolling_hash(concat_ws("\n", RuleFilters.c4KeptLines(col("lines"))))
          .as("cleaned_fp"),
        RuleFilters.c4PageDrop(col("lines")).as("page_drop"))
      .orderBy("doc_id")
  }

  private def c4LineFilterSqlGen: String = {
    val lineExpr = // i-th 8-token line with bullet/punct decoration
      """CASE WHEN (doc_id + i) % 3 != 0 THEN
        |  (CASE WHEN (doc_id + i) % 5 = 0
        |     THEN '- ' || array_to_string(toks[i*8+1 : i*8+8], ' ')
        |     ELSE array_to_string(toks[i*8+1 : i*8+8], ' ') END) || '.'
        |ELSE
        |  (CASE WHEN (doc_id + i) % 5 = 0
        |     THEN '- ' || array_to_string(toks[i*8+1 : i*8+8], ' ')
        |     ELSE array_to_string(toks[i*8+1 : i*8+8], ' ') END)
        |END""".stripMargin
    val keptExpr =
      """list_filter(lines, l ->
        |  (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
        |  AND len(string_split(l, ' ')) >= 4 AND l NOT LIKE '- %')""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 97 = 0 THEN
       |      list_concat(
       |        list_transform(range(0, (len(toks)+7)//8), i -> $lineExpr),
       |        ['lorem ipsum dolor sit amet.'])
       |    ELSE list_transform(range(0, (len(toks)+7)//8), i -> $lineExpr)
       |    END AS lines
       |  FROM t),
       |k AS (
       |  SELECT doc_id, lines, $keptExpr AS kept,
       |    array_to_string($keptExpr, chr(10)) AS cleaned
       |  FROM p)
       |SELECT doc_id,
       |  CAST(len(lines) AS BIGINT) AS n_lines,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  CAST(${u64ToSigned(rollingFoldSql("cleaned"))} AS BIGINT) AS cleaned_fp,
       |  (contains(lower(array_to_string(lines, chr(10))), 'lorem ipsum') OR
       |   contains(array_to_string(lines, chr(10)), '{') OR
       |   contains(array_to_string(lines, chr(10)), '}')) AS page_drop
       |FROM k ORDER BY doc_id""".stripMargin
  }

  /** Hashed-feature linear classifier inference (quality.LinearScorer):
    * per-document exact integer score from a fastText-style bucket-weight
    * model baked into the plan as a literal — the apply-a-trained-filter
    * pass of a training-data pipeline, shaped as ONE map-only codegen
    * projection. The oracle replays hash, bucket mask and weight lookup
    * from the same constants and weight array.
    */
  private val qQualityClassifier: Q = (s, dir) => {
    import graft.quality.LinearScorer
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        LinearScorer.score(col("text")).as("w_sum"))
      .withColumn("kept", col("w_sum") > lit(0L))
      .orderBy("doc_id")
  }

  private def qualityClassifierSqlGen: String =
    s"""SELECT doc_id, lang,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  ${graft.quality.LinearScorer.scoreSql("text")} AS w_sum,
       |  ${graft.quality.LinearScorer.scoreSql("text")} > 0 AS kept
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Real media-container metadata decode (multimodal.MediaHeaders): one
    * payload per document — a VALID minimal PNG / JPEG / GIF / BMP / WAV
    * whose dimensions (or rate/channels) come from integer formulas of
    * doc_id — header-parsed back with the real wire-format codecs (CRC'd
    * PNG chunk walk, JPEG SOF scan, ...). The query aggregates PARSED
    * values; the oracle recomputes the formulas directly — the hash
    * matches only if encode∘parse is the identity on all five formats for
    * every document. Batch map-only, the extractFeatures partition shape.
    */
  private val qMediaHeaders: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.MediaHeaders
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 + ((id * 7) % 240).toInt
          val h = 16 + ((id * 13) % 240).toInt
          val bytes = (id % 5) match {
            case 0 => MediaHeaders.pngBytes(w, h)
            case 1 => MediaHeaders.jpegBytes(w, h)
            case 2 => MediaHeaders.gifBytes(w, h)
            case 3 => MediaHeaders.bmpBytes(w, h)
            case _ => MediaHeaders.wavBytes(8000 + (id % 8).toInt * 4000,
              1 + (id % 2).toInt)
          }
          val m = MediaHeaders.parse(bytes).get
          (id, m.kind, m.a, m.b)
        }
      }.toDF("doc_id", "kind", "a", "b")
      .groupBy("kind")
      .agg(count(lit(1)).as("n"),
        sum(col("a")).cast("long").as("a_sum"),
        sum(col("b")).cast("long").as("b_sum"),
        min(col("a")).cast("long").as("a_min"),
        max(col("a")).cast("long").as("a_max"))
      .orderBy("kind")
  }

  private val mediaHeadersSql =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |      WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' ELSE 'wav' END AS kind,
      |    CASE WHEN doc_id % 5 = 4 THEN 8000 + (doc_id % 8) * 4000
      |      ELSE 16 + (doc_id * 7) % 240 END AS a,
      |    CASE WHEN doc_id % 5 = 4 THEN 1 + doc_id % 2
      |      ELSE 16 + (doc_id * 13) % 240 END AS b
      |  FROM documents)
      |SELECT kind, COUNT(*) AS n, CAST(SUM(a) AS BIGINT) AS a_sum,
      |  CAST(SUM(b) AS BIGINT) AS b_sum, CAST(MIN(a) AS BIGINT) AS a_min,
      |  CAST(MAX(a) AS BIGINT) AS a_max
      |FROM m GROUP BY kind ORDER BY kind""".stripMargin

  /** Compressed A/V container metadata decode
    * ([[graft.multimodal.MediaHeaders.parseAv]]): real wire-format parsing
    * of the three containers a crawled A/V corpus is made of — MP4
    * (ISO-BMFF box walk: mvhd timescale/duration normalized to ms by
    * integer division, tkhd 16.16 pixel dims), MP3 (ID3v2 syncsafe skip +
    * MPEG-1 Layer III header through the published bitrate/sample-rate
    * tables), FLAC (STREAMINFO bit-unpack: rate 20b, channels 3b, total
    * samples 36b). Fixtures are formula-built encoder output, so the
    * oracle recomputes every field from the same formulas (the
    * q_media_headers pattern) — a match proves encode∘parse identity
    * including the timescale math and the table lookups.
    */
  private val qAvContainerMeta: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.MediaHeaders
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val bytes = (id % 3) match {
            case 0 => MediaHeaders.mp4Bytes(
              timescale = 600 + ((id % 5) * 200).toInt,
              durationTicks = ((id * 37) % 100000).toInt,
              w = 160 + ((id * 7) % 1760).toInt,
              h = 90 + ((id * 11) % 990).toInt)
            case 1 => MediaHeaders.mp3Bytes(
              bitrateIdx = 1 + (id % 14).toInt, srIdx = ((id % 7) % 3).toInt)
            case _ => MediaHeaders.flacBytes(
              sampleRate = 8000 + ((id % 9) * 4900).toInt,
              channels = 1 + (id % 2).toInt,
              totalSamples = (id * 441) % 1000000)
          }
          val m = MediaHeaders.parseAv(bytes).get
          (id, m.kind, m.a, m.b, m.c)
        }
      }.toDF("doc_id", "kind", "a", "b", "c")
      .groupBy("kind")
      .agg(count(lit(1)).as("n"), sum(col("a")).as("a_sum"),
        sum(col("b")).as("b_sum"), sum(col("c")).as("c_sum"),
        min(col("a")).as("a_min"), max(col("b")).as("b_max"))
      .orderBy("kind")
  }

  private val avContainerMetaSql = {
    val br = graft.multimodal.MediaHeaders.Mp3Bitrates.drop(1)
      .mkString("[", ", ", "]")
    val sr = graft.multimodal.MediaHeaders.Mp3SampleRates
      .mkString("[", ", ", "]")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'mp4' WHEN 1 THEN 'mp3'
       |      ELSE 'flac' END AS kind,
       |    CASE doc_id % 3
       |      WHEN 0 THEN (((doc_id * 37) % 100000) * 1000)
       |                    // (600 + (doc_id % 5) * 200)
       |      WHEN 1 THEN CAST($br[CAST(doc_id % 14 AS INT) + 1] AS BIGINT)
       |      ELSE 8000 + (doc_id % 9) * 4900 END AS a,
       |    CASE doc_id % 3
       |      WHEN 0 THEN 160 + (doc_id * 7) % 1760
       |      WHEN 1 THEN CAST($sr[CAST((doc_id % 7) % 3 AS INT) + 1] AS BIGINT)
       |      ELSE 1 + doc_id % 2 END AS b,
       |    CASE doc_id % 3
       |      WHEN 0 THEN 90 + (doc_id * 11) % 990
       |      WHEN 1 THEN 0
       |      ELSE (doc_id * 441) % 1000000 END AS c
       |  FROM documents)
       |SELECT kind, COUNT(*) AS n, CAST(SUM(a) AS BIGINT) AS a_sum,
       |  CAST(SUM(b) AS BIGINT) AS b_sum, CAST(SUM(c) AS BIGINT) AS c_sum,
       |  CAST(MIN(a) AS BIGINT) AS a_min, CAST(MAX(b) AS BIGINT) AS b_max
       |FROM m GROUP BY kind ORDER BY kind""".stripMargin
  }

  /** Outlink host graph (pipeline.HtmlExtract.links): each document
    * becomes a page with three formula-targeted anchors (plus a `<link>`
    * stylesheet decoy the `<a>`-only extractor must skip), hrefs are
    * extracted in document order by one codegen regex, and the host-level
    * adjacency (crawl-source host → link-target host) is aggregated — the
    * edge-building pass ahead of the graph suite (PageRank/CC run on
    * exactly this relation at crawl scale). The oracle rebuilds the same
    * pages and replays the same regex + host parse in SQL.
    */
  private val qLinkGraph: Q = (s, dir) => {
    import graft.pipeline.HtmlExtract
    def target(m: Int, a: Int) = pmod(col("doc_id") * m + a, lit(1000))
    def anchor(m: Int, a: Int) = concat(
      lit("<a class=\"out\" href=\"http://src"),
      pmod(target(m, a), lit(10)),
      lit(".example.com/docs/item-"), target(m, a), lit("\">l</a>"))
    val html = concat(
      lit("<html><body><link href=\"http://cdn.example.com/style.css\">"),
      anchor(2, 17), lit("<p>text</p>"), anchor(3, 29), anchor(7, 43),
      lit("</body></html>"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), html.as("html"))
      .select(col("source"),
        explode(HtmlExtract.links(col("html"))).as("href"))
      .select(concat(col("source"), lit(".example.com")).as("src_host"),
        regexp_extract(col("href"), "^http://([^/]+)/", 1).as("dst_host"),
        col("href"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("href")).as("n_urls"))
      .orderBy("src_host", "dst_host")
  }

  private def linkGraphSqlGen: String = {
    import graft.pipeline.HtmlExtract
    def anchorSql(m: Int, a: Int) =
      s"""'<a class="out" href="http://src' || ((doc_id*$m+$a)%1000)%10 ||
         |'.example.com/docs/item-' || (doc_id*$m+$a)%1000 || '">l</a>'""".stripMargin
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |    '<html><body><link href="http://cdn.example.com/style.css">' ||
       |    ${anchorSql(2, 17)} || '<p>text</p>' ||
       |    ${anchorSql(3, 29)} || ${anchorSql(7, 43)} ||
       |    '</body></html>' AS html
       |  FROM documents),
       |l AS (SELECT doc_id, source,
       |        unnest(${HtmlExtract.linksSql("html")}) AS href FROM h)
       |SELECT source || '.example.com' AS src_host,
       |  regexp_extract(href, '^http://([^/]+)/', 1) AS dst_host,
       |  COUNT(*) AS n_links,
       |  CAST(COUNT(DISTINCT href) AS BIGINT) AS n_urls
       |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** robots.txt compliance gate (pipeline.Robots): per-host robots files —
    * each with a decoy `BadBot` group that disallows everything, a `*`
    * group with a host-specific Disallow + a longer Allow exception, a
    * non-rule directive, and comments — are parsed by the real REP parser,
    * and every document URL is gated by RFC 9309 semantics (longest
    * matching prefix wins, Allow wins ties, unmatched ⇒ allowed) through a
    * broadcast rules join. The fixture formulas make each outcome class
    * reachable (URL path digit collides with the host's disallow exactly
    * when doc_id%5=0; the /ok suffix then flips it back to allowed), so
    * the oracle derives every decision in closed form — a match proves
    * group selection, tie-breaking, and prefix matching together.
    */
  private val qRobotsGate: Q = (s, dir) => {
    import graft.pipeline.Robots
    val robotsTxt = (0 until 10).map { h =>
      (s"src$h.example.com",
        s"""# crawl policy for src$h
           |User-agent: BadBot
           |Disallow: /
           |
           |User-agent: *
           |Disallow: /docs/item-$h
           |Allow: /docs/item-$h/ok
           |Crawl-delay: 5
           |Disallow: /tmp
           |""".stripMargin)
    }
    import s.implicits._
    val rules = Robots.rulesOf(robotsTxt.toDF("host", "txt"))
    val urls = Tables.documents(s, dir).select(col("doc_id"),
      concat(lit("src"), pmod(col("doc_id") * 3, lit(10)),
        lit(".example.com")).as("host"),
      concat(lit("/docs/item-"), pmod(col("doc_id"), lit(10)),
        when(col("doc_id") % 3 === 1, lit("/ok"))
          .when(col("doc_id") % 3 === 2, lit("/x"))
          .otherwise(lit(""))).as("path"))
    Robots.gate(urls, rules)
      .groupBy("host")
      .agg(count(lit(1)).as("n"),
        sum(col("allowed").cast("long")).as("n_allowed"),
        expr("bit_xor(case when allowed then 0 else doc_id end)")
          .as("disallowed_xor"))
      .orderBy("host")
  }

  private val robotsGateSql =
    """WITH u AS (
      |  SELECT doc_id,
      |    'src' || (doc_id*3)%10 || '.example.com' AS host,
      |    -- matched iff path digit = host digit ⟺ doc_id%5=0;
      |    -- the /ok suffix (doc_id%3=1) hits the longer Allow rule
      |    NOT (doc_id % 5 = 0 AND doc_id % 3 <> 1) AS allowed
      |  FROM documents)
      |SELECT host, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
      |  CAST(bit_xor(CASE WHEN allowed THEN 0 ELSE doc_id END) AS BIGINT)
      |    AS disallowed_xor
      |FROM u GROUP BY host ORDER BY host""".stripMargin

  /** Unicode-canonicalization dedup ([[org.apache.spark.sql.graftx.UnicodeFold]]
    * — native codegen expression): the corpus is doubled with two
    * renderings of the same logical prefix — composed uppercase
    * `CAFÉ niño` (U+00C9/U+00F1) and decomposed lowercase
    * `cafe´ nin˜o` (combining U+0301/U+0303) — and exact dedup runs on
    * `rolling_hash(unicode_fold(t))`. Raw fingerprints see 2N distinct
    * docs; folded fingerprints see N (every composed/decomposed/case pair
    * collapses). The oracle folds with
    * `lower(strip_accents(nfc_normalize(t)))` — independent code, same
    * canonicalization contract — and replays both distinct counts plus the
    * folded-key XOR.
    */
  private val qUnicodeDedup: Q = (s, dir) => {
    import org.apache.spark.sql.graftx.UnicodeFold.unicode_fold
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val va = docs.withColumn("t", concat(lit("CAFÉ niño - "), col("text")))
    val vb = docs.withColumn("t",
      concat(lit("cafe\u0301 nin\u0303o - "), col("text")))
    va.unionByName(vb)
      .select(col("lang"), rolling_hash(unicode_fold(col("t"))).as("k"),
        rolling_hash(col("t")).as("raw_k"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("k")).as("n_unique"),
        countDistinct(col("raw_k")).as("n_raw"),
        expr("bit_xor(distinct k)").as("k_xor"))
      .orderBy("lang")
  }

  private def unicodeDedupSqlGen: String = {
    val folded = "lower(strip_accents(nfc_normalize(t)))"
    s"""WITH c AS (
       |  SELECT lang, 'CAFÉ niño - ' || text AS t FROM documents
       |  UNION ALL
       |  SELECT lang, 'café niño - ' || text AS t FROM documents),
       |k AS (
       |  SELECT lang,
       |    CAST(${u64ToSigned(rollingFoldSql(folded))} AS BIGINT) AS k,
       |    CAST(${u64ToSigned(rollingFoldSql("t"))} AS BIGINT) AS raw_k
       |  FROM c)
       |SELECT lang, COUNT(*) AS n_rows,
       |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_unique,
       |  CAST(COUNT(DISTINCT raw_k) AS BIGINT) AS n_raw,
       |  CAST(bit_xor(DISTINCT k) AS BIGINT) AS k_xor
       |FROM k GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Charset sniffing over raw byte payloads
    * ([[graft.multimodal.Charset]]): each document's text bytes get a
    * formula-chosen tail — nothing (pure ASCII), valid 2-byte + 3-byte
    * UTF-8 sequences, a lone continuation byte, or a truncated lead — and
    * the hand-rolled RFC 3629 state machine classifies ascii/utf8/invalid,
    * counting decoded codepoints and invalid bytes. The oracle knows what
    * each tail must yield (ASCII text contributes its own length in
    * codepoints; the valid tail +2 chars; each broken tail +1 bad byte) —
    * a match proves the validator's sequence-length, continuation, and
    * resync rules on every class.
    */
  private val qCharsetDetect: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.Charset
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val base = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val tail: Array[Byte] = (id % 4) match {
            case 0 => Array.empty
            case 1 => Array(0xc3, 0xa9, 0xe4, 0xb8, 0xad).map(_.toByte) // é中
            case 2 => Array(0x80.toByte) // lone continuation
            case _ => Array(0xc3.toByte) // truncated lead
          }
          val inf = Charset.info(base ++ tail)
          (id, inf.kind, inf.chars, inf.bad)
        }
      }.toDF("doc_id", "kind", "chars", "bad")
      .groupBy("kind")
      .agg(count(lit(1)).as("n"), sum(col("chars")).as("chars_sum"),
        sum(col("bad")).as("bad_sum"),
        expr("bit_xor(doc_id)").as("id_xor"))
      .orderBy("kind")
  }

  private val charsetDetectSql =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4 WHEN 0 THEN 'ascii' WHEN 1 THEN 'utf8'
      |      ELSE 'invalid' END AS kind,
      |    CAST(length(text) + CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 0 END
      |      AS BIGINT) AS chars,
      |    CAST(CASE WHEN doc_id % 4 >= 2 THEN 1 ELSE 0 END AS BIGINT) AS bad
      |  FROM documents)
      |SELECT kind, COUNT(*) AS n, CAST(SUM(chars) AS BIGINT) AS chars_sum,
      |  CAST(SUM(bad) AS BIGINT) AS bad_sum,
      |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor
      |FROM m GROUP BY kind ORDER BY kind""".stripMargin

  /** The DataSource V2 connector as a declared query: scan
    * [[graft.sources.v2.SynthDocsSource]] through a doc_id range predicate
    * (pushed to the connector, where it prunes whole input partitions —
    * the declared-path twin of the plan assertions in OperatorsSpec), then
    * fold every generated text into per-language content fingerprints.
    * The oracle RE-GENERATES the identical table inside DuckDB — the
    * connector's splitmix64 column functions replayed in staged HUGEINT
    * mod-2^64 arithmetic, lookup lists emitted from the same Scala arrays —
    * so the hash matches only if every generated byte, language pick and
    * word-count branch agrees with the connector.
    */
  private val qSynthSource: Q = (s, _) =>
    s.read.format(classOf[graft.sources.v2.SynthDocsSource].getName)
      .option("rows", "2000").option("partitions", "8").option("seed", "42")
      .load()
      .filter(col("doc_id") >= 100 && col("doc_id") < 1500)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        rolling_hash(col("text")).as("fp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        expr("bit_xor(doc_id)").as("id_xor"), expr("bit_xor(fp)").as("text_xor"))
      .orderBy("lang")

  /** Aggregate pushdown through the DSv2 connector: COUNT(*)/MIN/MAX over
    * a doc_id range are answered by the source in closed form — one partial
    * row per input partition, zero data rows generated (the filter is fully
    * absorbed by range clipping, which is what legalizes the agg pushdown).
    * Plan-asserted in OperatorsSpec; the oracle computes the same range
    * arithmetic from generate_series.
    */
  private val qSynthAggPushdown: Q = (s, _) =>
    s.read.format(classOf[graft.sources.v2.SynthDocsSource].getName)
      .option("rows", "2000").option("partitions", "8").option("seed", "42")
      .load()
      .filter(col("doc_id") >= 100 && col("doc_id") < 1500)
      .agg(expr("count(*)").as("n_docs"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"))

  private val synthAggPushdownSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(g) AS BIGINT) AS min_id, CAST(MAX(g) AS BIGINT) AS max_id
      |FROM generate_series(100, 1499) t(g)""".stripMargin

  /** Generated from SynthDocs/SketchKernels constants: splitmix64 is staged
    * one finalizer step per CTE column (scalars) / per list_transform
    * (word hashes) to keep the SQL expression tree linear.
    */
  private def synthSourceSqlGen: String = {
    import org.apache.spark.sql.graftx.SketchKernels
    import U64Sql.{u, unsignedVal, signedVal, xorShift, mulSplit}
    val seed = 42L
    val gg = u(SketchKernels.GoldenGamma)
    val langs = graft.sources.v2.SynthDocs.Langs
      .map(l => s"'$l'").mkString("list_value(", ", ", ")")
    val words = graft.sources.v2.SynthDocs.Words
      .map(w => s"'$w'").mkString("list_value(", ", ", ")")
    // java.lang.Math.floorMod of the signed image
    def fm(sv: String, m: Int) = s"CAST(((($sv) % $m) + $m) % $m AS INT)"
    val stages: Seq[String => String] = Seq(
      v => xorShift(v, 30), v => mulSplit(v, SketchKernels.Mix1),
      v => xorShift(v, 27), v => mulSplit(v, SketchKernels.Mix2),
      v => xorShift(v, 31))
    // scalar chains: l* = splitmix64(doc_id XOR seed) picks the language,
    // t* = splitmix64(doc_id*31 + seed) seeds the text
    val scalarCtes = stages.zipWithIndex.map { case (f, i) =>
      s"s${i + 1} AS (SELECT *, ${f(s"l$i")} AS l${i + 1}, ${f(s"t$i")} AS t${i + 1} FROM s$i)"
    }.mkString(", ")
    // list chain: one finalized hash per word position
    val listCtes = stages.zipWithIndex.map { case (f, i) =>
      s"w${i + 1} AS (SELECT *, list_transform(hs$i, h -> ${f("h")}) AS hs${i + 1} FROM w$i)"
    }.mkString(", ")
    s"""WITH ids AS (
       |  SELECT CAST(g AS BIGINT) AS doc_id FROM generate_series(100, 1499) t(g)
       |), s0 AS (
       |  SELECT doc_id,
       |    (${unsignedVal(s"xor(doc_id, $seed)")} + $gg) % ${U64Sql.Wrap} AS l0,
       |    (${unsignedVal(s"doc_id * 31 + $seed")} + $gg) % ${U64Sql.Wrap} AS t0
       |  FROM ids
       |), $scalarCtes, base AS (
       |  SELECT doc_id, $langs[${fm(signedVal("l5"), 5)} + 1] AS lang, t5 AS th,
       |    8 + ${fm(signedVal("t5"), 25)} AS n
       |  FROM s5
       |), w0 AS (
       |  SELECT doc_id, lang, list_transform(generate_series(0, n - 1),
       |    i -> ((th + CAST(i AS HUGEINT)) % ${U64Sql.Wrap} + $gg) % ${U64Sql.Wrap}) AS hs0
       |  FROM base
       |), $listCtes, txt AS (
       |  SELECT doc_id, lang,
       |    array_to_string(list_transform(hs5,
       |      h -> $words[${fm(signedVal("h"), 16)} + 1]), ' ') AS text
       |  FROM w5
       |)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(length(text)) AS BIGINT) AS chars,
       |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
       |  CAST(bit_xor(${u64ToSigned(rollingFoldSql("text"))}) AS BIGINT) AS text_xor
       |FROM txt GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Malformed-input tolerance (Sources.jsonlPermissive): documents are
    * serialized to line JSON with every 7th line deterministically broken
    * (truncated mid-object), then ingested in PERMISSIVE mode. Good rows
    * parse fully, broken lines land in `_corrupt_record` — nothing fails,
    * nothing is silently dropped. The oracle replays the same doc_id%7 rule
    * over the source table; the bit_xor over surviving ids proves exactly
    * the right rows parsed.
    */
  private val qJsonlCorrupt: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jcorrupt").toString
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs
      .select(when(col("doc_id") % 7 === 3,
          concat(lit("{\"doc_id\":"), col("doc_id"), lit(",BROKEN")))
        .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
        .as("value"))
      .coalesce(2)
      .write.mode("overwrite").text(s"$tmp/in")
    val parsed = graft.sources.Sources.jsonlPermissive(s, s"$tmp/in", docs.schema)
    parsed.agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        expr("bit_xor(CASE WHEN _corrupt_record IS NULL THEN doc_id END)").as("good_xor"),
        sum(when(col("_corrupt_record").isNull, col("n_chars")).otherwise(0L))
          .cast("long").as("good_chars"))
  }

  private val jsonlCorruptSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
      |  CAST(bit_xor(CASE WHEN doc_id % 7 <> 3 THEN doc_id END) AS BIGINT) AS good_xor,
      |  CAST(SUM(CASE WHEN doc_id % 7 <> 3 THEN n_chars ELSE 0 END) AS BIGINT) AS good_chars
      |FROM documents""".stripMargin

  /** Sequence packing — the concat-then-chunk step that turns documents
    * into fixed-token-budget training sequences: per language, documents in
    * deterministic order accumulate a running token count and a document's
    * sequence id is its preceding tokens ÷ budget (greedy packing, no doc
    * splitting across the demo). One window per lang partition (bounded by
    * per-lang corpus share), then a per-sequence aggregate — shuffle keys
    * are (lang, seq_id), never text.
    */
  private val qSeqPacking: Q = (s, dir) => {
    val budget = 256L
    val t = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tokens"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum", sum(col("tokens")).over(w))
      .select(col("lang"),
        expr(s"(cum - tokens) div $budget").as("seq_id"),
        col("tokens"))
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("seq_tokens"))
      .orderBy("lang", "seq_id")
  }

  private val seqPackingSql =
    """WITH t AS (
      |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
      |  FROM documents
      |), c AS (
      |  SELECT lang, tokens, SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT lang, CAST((cum - tokens) // 256 AS BIGINT) AS seq_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS seq_tokens
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Temperature-based multilingual sampling weights (the pretraining
    * alpha-sampling recipe): language share p_l, tempered weight
    * q_l ∝ p_l^α (α = 0.3), expected docs at a 1000-doc budget. One count
    * aggregate + a broadcast 1-row total; pow is the only transcendental
    * and is rounded on both sides per the parity rule.
    */
  private val qAlphaSampling: Q = (s, dir) => {
    val counts = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("n_total"))
    val z = counts.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("n_total"),
        pow(col("n_docs").cast("double") / col("n_total").cast("double"), 0.3).as("w"))
    val zsum = z.agg(sum(col("w")).as("zsum"))
    z.crossJoin(broadcast(zsum))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total").cast("double"), 6).as("p"),
        round(col("w") / col("zsum"), 6).as("q"),
        round(lit(1000.0) * col("w") / col("zsum"), 3).as("expected_docs"))
      .orderBy("lang")
  }

  private val alphaSamplingSql =
    """WITH c AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
      |), z AS (
      |  SELECT lang, n_docs, SUM(n_docs) OVER () AS n_total,
      |    pow(CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE), 0.3) AS w
      |  FROM c)
      |SELECT lang, n_docs,
      |  round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS p,
      |  round(w / SUM(w) OVER (), 6) AS q,
      |  round(1000.0 * w / SUM(w) OVER (), 3) AS expected_docs
      |FROM z ORDER BY lang""".stripMargin

  /** Unigram-LM document scoring (CCNet-style quality signal): corpus-wide
    * token frequencies become per-token log-probs; a doc's score is its
    * mean token log-prob. Per-token log-probs are quantized to integer
    * micros (round half away from zero — engines agree) so the per-doc SUM
    * is an exact long — order-independent and oracle-reproducible; the
    * transcendental ln is the only double step and is rounded per the
    * established parity rule. Two-level aggregation, token join is
    * hash-partitioned — at 100 TB the freq table is the classic word-count.
    */
  private val qUnigramLm: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("n"))
    toks.join(freq, Seq("token"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(col("c").cast("double") / col("n").cast("double")) * lit(1000000.0))
          .cast("long").as("u"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("u")).as("sum_logp_u"))
      .select(col("doc_id"), col("n_toks"), col("sum_logp_u"),
        (col("sum_logp_u").cast("double") /
          (col("n_toks").cast("double") * lit(1000000.0))).as("avg_logp"))
      .orderBy("doc_id")
  }

  private val unigramLmSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      |), t2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
      |freq AS (SELECT token, COUNT(*) AS c FROM t2 GROUP BY token),
      |tot AS (SELECT SUM(c) AS n FROM freq),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0)
      |      AS BIGINT) AS u
      |  FROM t2 JOIN freq USING (token), tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |  CAST(SUM(u) AS BIGINT) AS sum_logp_u,
      |  CAST(SUM(u) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
      |    AS avg_logp
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Deterministic hash-based train/validation/test split — the assignment
    * must be a pure function of the key (not a random sample) so it is stable
    * across reruns, engines, and cluster sizes. Bucket = first 4 hex chars of
    * md5(doc_id) mod 100; 80/10/10.
    */
  private val qHashSplit: Q = (s, dir) => {
    val bucket =
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    Tables.documents(s, dir)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "validation")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"))
      .orderBy("split")
  }

  /** Oracle for the md5 bucket: DuckDB 1.0 has no base-16 conv(), so the hex
    * value is rebuilt digit-by-digit — generated here so both sides share the
    * same 4-hex-char window and modulus.
    */
  private val hashSplitSql = {
    def hexDigit(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    val bucket = s"((${hexDigit(1)}*4096 + ${hexDigit(2)}*256 + " +
      s"${hexDigit(3)}*16 + ${hexDigit(4)}) % 100)"
    s"""SELECT CASE WHEN $bucket < 80 THEN 'train'
       |            WHEN $bucket < 90 THEN 'validation'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
       |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
  }

  /** Batch band join via `operators.RangeJoin`: purchases paired with the
    * same user's clicks in the preceding hour — the batch twin of the
    * stream-stream interval join, but as a bucketed hash join instead of the
    * broadcast-nested-loop Spark would plan for the raw theta predicate.
    */
  private val qRangeJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val counted = graft.operators.RangeJoin(purchases, clicks, Seq("user_id"),
        "ts", "click_ts", -3600L, 0L)
      .groupBy("event_id").agg(count(lit(1)).as("prior_clicks"))
    purchases.select("event_id").join(counted, Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("prior_clicks"), lit(0L)).as("prior_clicks"))
      .orderBy("event_id")
  }

  private val rangeJoinSql =
    """SELECT p.event_id, COUNT(c.event_id) AS prior_clicks
      |FROM events p LEFT JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin

  /** TF-IDF top-3 terms per document. Spark's codegen routes log through
    * StrictMath (fdlibm), which differs from DuckDB's ln by 1 ulp on some
    * inputs — so the score is rounded to 6 dp on BOTH sides before ranking
    * (ulp noise can't cross a 1e-6 boundary; near-ties fall to the token
    * tie-break identically on both engines).
    */
  private val qTfidf: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tok.distinct().groupBy("token").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("token").asc)
    tf.join(dfreq, "token")
      .crossJoin(broadcast(total))
      .withColumn("tfidf", round(col("tf").cast("double") *
        log((col("n_docs") + lit(1)).cast("double") /
          (col("df") + lit(1)).cast("double")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  private val tfidfSql =
    """WITH tok AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |    FROM documents) u
      |  WHERE token <> ''),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |total AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, token,
      |    round(CAST(tf AS DOUBLE) *
      |      ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6) AS tfidf
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN total),
      |ranked AS (
      |  SELECT doc_id, token, tfidf,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY tfidf DESC, token) AS BIGINT) AS rk
      |  FROM scored)
      |SELECT doc_id, rk, token, tfidf FROM ranked
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Deterministic per-class downsampling (class rebalancing): cap every
    * language at 50 docs, chosen by md5 order — a pure function of the key,
    * so the sample is identical on any engine or cluster size.
    */
  private val qStratifiedSample: Q = (s, dir) => {
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Tables.documents(s, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 50)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy("lang", "rk")
  }

  private val stratifiedSampleSql =
    """SELECT lang, rk, doc_id FROM (
      |  SELECT lang, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
      |  FROM documents) t
      |WHERE rk <= 50 ORDER BY lang, rk""".stripMargin

  /** Time-series gap fill: date-spine generation (`sequence` + `explode`),
    * zero-fill for counts, forward-fill (`last ignoreNulls`) for values.
    * The global window runs on the day spine — a bounded list (≤ days in
    * range), same discipline as the partition-list ranking, never fact rows.
    */
  private val qGapFill: Q = (s, dir) => {
    val daily = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1998)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
    val spine = daily.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("day"), "left")
      .select(col("day").cast("timestamp").as("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        last(col("max_price"), ignoreNulls = true).over(w)
          .as("filled_max_price"))
      .orderBy("day")
  }

  private val gapFillSql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders,
      |    MAX(o_totalprice) AS max_price
      |  FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(
      |    CAST((SELECT MIN(day) FROM daily) AS TIMESTAMP),
      |    CAST((SELECT MAX(day) FROM daily) AS TIMESTAMP),
      |    INTERVAL 1 DAY)) AS DATE) AS day)
      |SELECT CAST(s.day AS TIMESTAMP) AS day, COALESCE(d.n_orders, 0) AS n_orders,
      |  last_value(d.max_price IGNORE NULLS) OVER (ORDER BY s.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_max_price
      |FROM spine s LEFT JOIN daily d USING (day) ORDER BY day""".stripMargin

  /** UNPIVOT (wide → long), the inverse of `q_pivot`; metric names come from
    * the source column names on both sides.
    */
  private val qUnpivot: Q = (s, dir) => {
    val agg = Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
      .agg(Exact.sumExact(col("l_quantity")).as("sum_qty"),
        Exact.sumExact(col("l_extendedprice")).as("sum_price"))
    agg.unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  private val unpivotSql =
    """WITH a AS (SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
      |UNION ALL
      |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM a
      |ORDER BY l_returnflag, metric""".stripMargin

  /** Equal-width histogram: bounds from one min/max aggregate (broadcast,
    * single row), bin assignment as pure deterministic double arithmetic
    * (identical op order on both engines — no transcendentals), top bin
    * clamped so x = max lands in the last bucket.
    */
  private val qHistogram: Q = (s, dir) => {
    val bins = 20
    val stats = Tables.orders(s, dir)
      .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
    Tables.orders(s, dir).crossJoin(broadcast(stats))
      .withColumn("bin",
        least(floor((col("o_totalprice") - col("lo")) * lit(bins) /
          (col("hi") - col("lo"))), lit(bins - 1)).cast("long"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
      .orderBy("bin")
  }

  private val histogramSql =
    """WITH s AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |           FROM orders)
      |SELECT CAST(LEAST(FLOOR((o_totalprice - lo) * 20 / (hi - lo)), 19)
      |         AS BIGINT) AS bin,
      |  COUNT(*) AS cnt
      |FROM orders, s GROUP BY 1 ORDER BY 1""".stripMargin

  /** Z-order layout as a declared round-trip: orders re-laid-out on the
    * Morton curve of (custkey, totalprice-cents), read back and aggregated.
    * The oracle aggregates the source directly, proving the re-layout is
    * lossless; the min/max-skipping benefit itself is plan/file-range
    * asserted in OperatorsSpec.
    */
  private val qZorderLayout: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val src = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
    graft.sources.ZOrder.write(src, "o_custkey", "price_cents", s"$tmp/z", numFiles = 8)
    s.read.parquet(s"$tmp/z")
      .groupBy((col("o_custkey") % 10).as("custkey_mod"))
      .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("cents"))
      .orderBy("custkey_mod")
  }

  private val zorderLayoutSql =
    """SELECT o_custkey % 10 AS custkey_mod, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** The reference's core path as a declared query: a quarter of orders is
    * written INTO a real JDBC database (embedded Derby) with decimal-cast
    * money and timestamp columns, extracted back with the 8-way partitioned
    * JDBC read (the NUM_MAPPERS contract, split bounds from the data), and
    * aggregated. The oracle aggregates the source directly — the hash
    * matches only if every row, every decimal digit and every timestamp
    * survived the write→extract hop. Closes S1/S9 (test-only until now)
    * with a driver-visible check.
    */
  private val qJdbcExtract: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jdbcq").toString
    val url = s"jdbc:derby:$tmp/db;create=true"
    val src = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,4)").as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    src.write.jdbc(url, "orders_t", new java.util.Properties())
    val b = src.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val back = graft.sources.Sources.jdbcPartitioned(s, url, "orders_t",
      "o_orderkey", b.getLong(0), b.getLong(1) + 1L, 8)
    back.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice")).cast("double").as("total"),
        max(unix_millis(col("o_orderdate"))).as("last_ms"))
      .orderBy("o_orderpriority")
  }

  private val jdbcExtractSql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
      |  CAST(MAX(epoch_ms(o_orderdate)) AS BIGINT) AS last_ms
      |FROM orders
      |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The shared plan-gate for the warehouse pushdown queries (r7 verdict
    * task 5): `shaped(flag)` is the final query; the flag is derived from
    * `shaped(false)`'s OWN executed plan containing every `marker`
    * (`PushedAggregates`, `PushedTopN`, …). CONTRACT: the two instances
    * differ ONLY in a boolean literal inside a projection — a literal
    * cannot change scan planning, so the probed plan IS the final plan
    * modulo that literal. Keep `shaped` literal-pure (no branching on the
    * flag, no extra operators); routing every gate through this helper is
    * what pins the assumption — a future edit that made the two plans
    * diverge would have to bypass it visibly.
    */
  private def pushdownGated(shaped: Boolean => org.apache.spark.sql.DataFrame,
      markers: String*): org.apache.spark.sql.DataFrame = {
    val plan = shaped(false).queryExecution.executedPlan.toString
    shaped(markers.forall(plan.contains))
  }

  /** A1/A4 executed WAREHOUSE-side (r5 "what's missing" #1): the catalog
    * probes the reference runs inside Vertica — `count(*)` per unit and
    * min/max split bounds (`sqoop_table.py:54-57`, `:145`) — through the
    * DSv2 JDBC catalog with aggregate pushdown, against a real embedded
    * Derby database. `agg_pushed` is computed FROM THE PLAN (scan must
    * carry `PushedAggregates` — i.e. no row fetch precedes the aggregate)
    * and hash-checked by the oracle's literal `true`, so a silent fallback
    * to row-fetch-then-aggregate fails the correctness gate, not just a
    * spec.
    */
  private val qJdbcAgg: Q = (s, dir) => {
    val fx = Fixtures.getOrBuild(s"jdbcagg:$dir") { f =>
      val url = s"jdbc:derby:$f/db;create=true"
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-04-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        .write
        // Derby's default String mapping is CLOB, which the warehouse
        // refuses to GROUP BY — declare a comparable VARCHAR instead
        // (real warehouse DDL would, too)
        .option("createTableColumnTypes", "o_orderpriority VARCHAR(32)")
        .jdbc(url, "orders_t", new java.util.Properties())
    }
    val cat = "graftdw_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
    val w = graft.sources.Sources.jdbcCatalog(s, cat, s"jdbc:derby:$fx/db")
    // DSv1 write.jdbc leaves the TABLE name unquoted (Derby normalizes it
    // to upper case) while quoting COLUMN names — so the V2 identifier is
    // upper-case, the columns stay lower-case.
    val t = w.table(s"$cat.ORDERS_T")
    val agg = t.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        sum(col("o_custkey")).as("sum_cust"))
    // flag from the final query's own plan, modulo the literal — the
    // shared contract lives in [[pushdownGated]]
    pushdownGated(v =>
      agg.withColumn("agg_pushed", lit(v)).orderBy("o_orderpriority"),
      "PushedAggregates")
  }

  private val jdbcAggSql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
      |  TRUE AS agg_pushed
      |FROM orders
      |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** O1/O2 executed WAREHOUSE-side: the reference's status probes are
    * ordered-LIMIT SQL run inside the warehouse — oldest pending partition
    * via `order by primary_partition_value LIMIT 1`
    * (`sqoop_table.py:41`, `:50`, `:107`) and the newest-first discovery
    * scan (`:145`, `order by primary_id desc`). Here the probe ("latest
    * keys for a priority class") goes through the DSv2 JDBC catalog with
    * TopN pushdown: filter + ORDER BY DESC + LIMIT all compile into the
    * warehouse query (Derby's `FETCH FIRST n ROWS ONLY` via
    * [[graft.sources.DerbyProbeDialect]]), so the scan transfers exactly k
    * rows. `topn_pushed` is computed FROM THE PLAN (scan must carry a
    * `PushedTopN` clause — i.e. the sort+limit happened warehouse-side,
    * not on fetched rows) and hash-checked against the oracle's literal
    * `true`: a silent fallback to fetch-then-sort fails correctness, not
    * just a bench number. k=5 on a unique key keeps the result
    * deterministic where the reference's LIMIT 1 tolerates ties.
    */
  private val qJdbcTopN: Q = (s, dir) => {
    val fx = Fixtures.getOrBuild(s"jdbcagg:$dir") { f =>
      val url = s"jdbc:derby:$f/db;create=true"
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-04-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        .write
        .option("createTableColumnTypes", "o_orderpriority VARCHAR(32)")
        .jdbc(url, "orders_t", new java.util.Properties())
    }
    val cat = "graftdw_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
    val probe = graft.sources.Sources.jdbcCatalog(s, cat, s"jdbc:derby:$fx/db")
      .table(s"$cat.ORDERS_T")
      .filter(col("o_orderpriority") === lit("1-URGENT"))
      .orderBy(col("o_orderkey").desc)
      .limit(5)
      .select(col("o_orderkey"), col("o_custkey"))
    pushdownGated(v =>
      probe.withColumn("topn_pushed", lit(v)).orderBy(col("o_orderkey")),
      "PushedTopN")
  }

  private val jdbcTopNSql =
    """SELECT o_orderkey, o_custkey, TRUE AS topn_pushed FROM orders
      |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
      |  AND o_orderpriority = '1-URGENT'
      |ORDER BY o_orderkey DESC LIMIT 5""".stripMargin

  /** A1 extended to AVG + verified GROUP BY pushdown (r6 verdict task 6):
    * the reference's per-unit verification probes are aggregate SQL run
    * inside the warehouse (`sqoop_table.py:54-57`), including avg-style
    * checks; here `AVG(...) GROUP BY ...` executes warehouse-side through
    * the DSv2 JDBC catalog. `avg_pushed` gates BOTH `PushedAggregates` AND
    * `PushedGroupByExpressions` in the final plan's scan — a fallback to
    * row-fetch, or a group-by evaluated Spark-side over fetched rows,
    * fails the correctness hash, not just a bench number. The averaged
    * column is stored DOUBLE with exact integer values, so whichever side
    * finishes the arithmetic (warehouse under complete pushdown; Spark
    * over pushed SUM/COUNT under partial) computes the identical IEEE
    * result the oracle's SUM/COUNT formula does.
    */
  private val qJdbcAvg: Q = (s, dir) => {
    val fx = Fixtures.getOrBuild(s"jdbcavg:$dir") { f =>
      val url = s"jdbc:derby:$f/db;create=true"
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-04-01"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey").cast("double").as("o_custval"))
        .write
        .option("createTableColumnTypes",
          "o_orderpriority VARCHAR(32), o_custval DOUBLE")
        .jdbc(url, "orders_a", new java.util.Properties())
    }
    val cat = "graftdwa_" + java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
    val t = graft.sources.Sources.jdbcCatalog(s, cat, s"jdbc:derby:$fx/db")
      .table(s"$cat.ORDERS_A")
    val agg = t.groupBy(col("o_orderpriority"))
      .agg(avg(col("o_custval")).as("avg_cust"),
        count(lit(1)).as("n"))
    pushdownGated(v =>
      agg.withColumn("avg_pushed", lit(v)).orderBy("o_orderpriority"),
      "PushedAggregates", "PushedGroupByExpressions")
  }

  private val jdbcAvgSql =
    """SELECT o_orderpriority,
      |  CAST(SUM(o_custkey) AS DOUBLE) / COUNT(*) AS avg_cust,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  TRUE AS avg_pushed
      |FROM orders
      |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Small-file compaction as a declared round-trip: lineitem scattered
    * into 64 tiny files, compacted to a byte-size target with the atomic
    * rename swap, read back and aggregated. The oracle aggregates the
    * source — the hash matches only if compaction lost/duplicated nothing;
    * `compacted` gates that the file count actually dropped.
    */
  private val qCompaction: Q = (s, dir) => {
    // the 64-small-files layout is the build-once test input; compaction
    // swaps files in place, so each run compacts a fresh local copy
    val fx = Fixtures.getOrBuild(s"compact:$dir") { f =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$f/t")
    }
    val tmp = Fixtures.mutableCopy(fx)
    val st = graft.sources.Compaction.compact(s, s"$tmp/t",
      targetBytes = 8L * 1024 * 1024)
    s.read.parquet(s"$tmp/t")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Exact.sumExact(col("l_quantity")).as("qty"),
        Exact.sumExact(col("l_extendedprice")).as("price"))
      .withColumn("compacted", lit(st.filesAfter < st.filesBefore))
      .orderBy("l_returnflag")
  }

  private val compactionSql =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS price,
      |  TRUE AS compacted
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** CSV (S7) as a declared round-trip: orders out to delimited text and
    * back through the explicit-schema reader (no inference pass), then
    * aggregated per month against the oracle's direct read of the source —
    * typed columns (bigint, double, timestamp) must survive the text hop.
    */
  private val qCsvRoundtrip: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-csvq").toString
    val src = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    src.write.mode("overwrite").option("header", "false").csv(s"$tmp/t")
    graft.sources.Sources.csv(s, s"$tmp/t", src.schema)
      .groupBy(monthSid(col("o_orderdate")).as("month_sid"))
      .agg(count(lit(1)).as("n"),
        Exact.sumExact(col("o_totalprice")).as("total"),
        expr("bit_xor(o_orderkey)").as("key_xor"))
      .orderBy("month_sid")
  }

  private val csvRoundtripSql =
    s"""SELECT $monthSidSql AS month_sid, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
       |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** SequenceFile round-trip (Sources.sequenceFileWrite/sequenceFile): the
    * Sqoop --as-sequencefile format that completes S10 — typed columns
    * (long/double/timestamp/string) through the block-compressed
    * (LongWritable, Text-CSV) container and back, aggregated; the oracle
    * aggregates the source directly, so the hash matches only if every
    * field of every record survived the binary hop. Same contract as
    * q_csv_roundtrip, different container.
    */
  private val qSeqfileRoundtrip: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-seqq").toString
    val src = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    graft.sources.Sources.sequenceFileWrite(src, "o_orderkey", s"$tmp/t")
    graft.sources.Sources.sequenceFile(s, s"$tmp/t", src.schema)
      .groupBy(monthSid(col("o_orderdate")).as("month_sid"))
      .agg(count(lit(1)).as("n"),
        Exact.sumExact(col("o_totalprice")).as("total"),
        expr("bit_xor(o_orderkey)").as("key_xor"))
      .orderBy("month_sid")
  }

  /** Bucketed co-located join as a declared query: both sides bucketed 8
    * ways on the join key at write time, then joined through the catalog —
    * the zero-exchange plan is asserted in PlanSpec; here the RESULT is
    * hash-checked against the plain join, proving bucketing is semantically
    * transparent (the q_salted_join contract, at the opposite end of the
    * shuffle spectrum).
    */
  private val qBucketedJoin: Q = (s, dir) => {
    // the bucketed layout is a build-once artifact (cluster-by at load
    // time); the timed operator is the zero-shuffle co-located join.
    // Fixtures caches per (JVM, dir): the first run writes both tables
    // under the fixture's temp dir (replacing a catalog entry of the same
    // name), later runs reuse the catalog tables.
    Fixtures.getOrBuild(s"bucketed:$dir") { f =>
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        "graft_q_orders_b", "o_orderkey", numBuckets = 8, s"$f/graft_q_orders_b")
      graft.sources.Bucketing.writeBucketed(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "graft_q_lineitem_b", "o_orderkey", numBuckets = 8, s"$f/graft_q_lineitem_b")
    }
    graft.sources.Bucketing.bucketedJoin(
        s, "graft_q_orders_b", "graft_q_lineitem_b", "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Exact.sumExact(col("l_quantity")).as("qty"))
      .orderBy("o_orderpriority")
  }

  private val bucketedJoinSql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Manifest-based file skipping (sources.StatsStore): orders laid out
    * range-clustered on custkey, a per-file (count, min, max) manifest
    * collected in one scan, then a custkey range query that opens only
    * files whose interval intersects the range. The aggregate hash-matches
    * the oracle's direct filter over the source (pruning is a superset
    * guarantee, so any skipped-but-needed file would break the hash);
    * `files_pruned` asserts the manifest actually skipped IO.
    */
  private val qStatsPruning: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stats").toString
    Tables.orders(s, dir)
      .repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$tmp/data")
    val stats = graft.sources.StatsStore.collect(s, s"$tmp/data", Seq("o_custkey"))
      .localCheckpoint()
    val nTotal = stats.count()
    val nScan = graft.sources.StatsStore.survivingFiles(stats, "o_custkey", 300L, 600L).size
    graft.sources.StatsStore.prunedRead(s, s"$tmp/data", stats, "o_custkey", 300L, 600L)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Exact.sumExact(col("o_totalprice")).as("total"))
      .withColumn("files_pruned", lit(nScan < nTotal))
      .orderBy("o_orderpriority")
  }

  private val statsPruningSql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
      |  TRUE AS files_pruned
      |FROM orders
      |WHERE o_custkey >= 300 AND o_custkey <= 600
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-file bloom index (sources.BloomIndex): point lookup on a column
    * the layout is NOT clustered by — the data is hash-laid-out on
    * o_custkey, so every file's o_orderkey min/max spans the whole domain
    * and a StatsStore manifest prunes nothing; the bloom index prunes to
    * the (1 + fpp·n) files that might hold the key. The `files_pruned`
    * gate goes red if the probe stops skipping; `minmax_blind` goes red if
    * the fixture accidentally becomes clustered (which would make the
    * bloom demonstration vacuous).
    */
  private val qBloomIndex: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bloomidx").toString
    Tables.orders(s, dir)
      .repartition(8, col("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmp/data")
    val idx = graft.sources.BloomIndex.build(s, s"$tmp/data", "o_orderkey",
      expectedPerFile = 1L << 16).localCheckpoint()
    val nTotal = idx.count()
    val nScan = graft.sources.BloomIndex.survivingFiles(idx, "o_orderkey", 1234L).size
    val ranges = graft.sources.StatsStore.collect(s, s"$tmp/data", Seq("o_orderkey"))
      .agg(max(col("min_o_orderkey")).as("worst_min"),
        min(col("max_o_orderkey")).as("worst_max"))
      .head()
    val minmaxBlind = // every file's range contains the probe key
      ranges.getLong(0) <= 1234L && ranges.getLong(1) >= 1234L
    graft.sources.BloomIndex.prunedRead(s, s"$tmp/data", idx, "o_orderkey", 1234L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .withColumn("files_pruned", lit(nScan < nTotal))
      .withColumn("minmax_blind", lit(minmaxBlind))
      .orderBy("o_orderkey")
  }

  private val bloomIndexSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  TRUE AS files_pruned, TRUE AS minmax_blind
      |FROM orders WHERE o_orderkey = 1234 ORDER BY o_orderkey""".stripMargin

  /** Skew-salted join (operators.SaltedJoin): the big side's hot keys are
    * spread over `salts` shuffle partitions, the small side replicated
    * `salts`×. Salting is semantically transparent, so the oracle is the
    * PLAIN join — the hash check proves no rows are lost or duplicated by
    * the salt/replicate/drop dance.
    */
  private val qSaltedJoin: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    operators.SaltedJoin(l, o, key = "l_orderkey", tieBreak = "l_linenumber", salts = 8)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"), Exact.sumExact(col("l_quantity")).as("qty"))
      .orderBy("l_orderkey")
  }

  private val saltedJoinSql =
    """SELECT l.l_orderkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      |FROM lineitem l JOIN (
      |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') o
      |ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val qDocFingerprint: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), rolling_hash(col("text")).as("fp"))
      .orderBy("doc_id")

  private val docFingerprintSql =
    s"""SELECT doc_id, ${u64ToSigned("h")} AS fp
       |FROM (SELECT doc_id, ${rollingFoldSql("text")} AS h FROM documents)
       |ORDER BY doc_id""".stripMargin

  private val qMinhashNearDups: Q = (s, dir) =>
    Dedup.minHashNearDups(Tables.documents(s, dir), threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  /** The incremental-dedup shape as a declared query: build the persistent
    * band index over doc_id < 400, then probe the rest as the "arriving
    * batch" — no historical text is re-read; candidates come from the
    * band-partitioned store and are scored by signature-estimated Jaccard.
    * The oracle recomputes signatures, band keys and the estimate in
    * mod-2^64 SQL with the same split.
    */
  private val qBandIndexProbe: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // the band-partitioned index is a build-once artifact; the probe (the
    // timed operator) only reads its matching band partitions
    val tmp = Fixtures.getOrBuild(s"bandidx:$dir") { f =>
      Dedup.buildBandIndex(docs.filter(col("doc_id") < 400), f, mode = "overwrite")
    }
    Dedup.probeBandIndex(docs.filter(col("doc_id") >= 400), s, tmp,
      minEstJaccard = 0.5)
      .orderBy("new_id", "indexed_id")
  }

  /** Band-index compaction (sources.Compaction.compactPartitions): the
    * index accrues THREE append waves (base + two), leaving a small-file
    * layer per band partition per wave; per-partition in-place compaction
    * (atomic-swap per directory) collapses them, and the probe over the
    * compacted store must produce the identical pair set — the oracle
    * replays the band probe against the logical index content (file
    * layout cannot matter), and the query gates that files really shrank.
    */
  private[catalog] val qBandCompaction: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bandcmp").toString
    Dedup.buildBandIndex(docs.filter(col("doc_id") < 150), tmp,
      mode = "overwrite")
    Dedup.buildBandIndex(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 275), tmp)
    Dedup.buildBandIndex(
      docs.filter(col("doc_id") >= 275 && col("doc_id") < 400), tmp)
    val st = graft.sources.Compaction.compactPartitions(s, s"$tmp/bands")
    Dedup.probeBandIndex(docs.filter(col("doc_id") >= 400), s, tmp,
      minEstJaccard = 0.5)
      .agg(count(lit(1)).as("n_pairs"),
        expr("bit_xor(new_id * 1000000 + indexed_id)").as("pair_xor"))
      .withColumn("files_reduced", lit(st.filesAfter < st.filesBefore))
  }

  private val bandCompactionSql =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(bit_xor(new_id * 1000000 + indexed_id) AS BIGINT) AS pair_xor,
       |  TRUE AS files_reduced
       |FROM (${SketchOracleSql.bandIndexProbeSql(400L, 0.5)})""".stripMargin

  /** The ONLINE ingest gate as a declared streaming query: documents with
    * doc_id ≥ 400 arrive as a multi-micro-batch stream (8 input files,
    * 2 per trigger) and are near-dup-checked — against the base index
    * (doc_id < 400), against every earlier arrival, and within their own
    * batch — with each batch's bands appended after probing. The drained
    * canonical pair set is micro-batch-boundary independent, so ONE batch
    * oracle replays it: every candidate pair whose greater doc_id is a
    * stream arrival, scored by signature-estimated Jaccard. The shared
    * band-index fixture is copied per run (the stream mutates its index).
    */
  private val qStreamNeardup: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sgate").toString
    val docs = Tables.documents(s, dir)
    val baseIdx = Fixtures.getOrBuild(s"bandidx:$dir") { f =>
      Dedup.buildBandIndex(docs.filter(col("doc_id") < 400), f, mode = "overwrite")
    }
    val idx = Fixtures.mutableCopy(baseIdx)
    docs.filter(col("doc_id") >= 400).repartition(8)
      .write.parquet(s"$tmp/in")
    withDrainParallelism(s, s"$tmp/in") {
      graft.streaming.DocsStream.neardupGateDrain(s, s"$tmp/in", idx,
        s"$tmp/out", s"$tmp/ck", minEstJaccard = 0.5)
    }
    s.read.parquet(s"$tmp/out") // drop the per-batch restart partition col
      .select(col("hi_id"), col("lo_id"), col("est_jaccard"))
      .orderBy("hi_id", "lo_id")
  }

  private val qSimhashNearDups: Q = (s, dir) =>
    Dedup.simHashNearDups(Tables.documents(s, dir), maxHamming = 6)
      .orderBy("doc_a", "doc_b")

  /** The composed training-data flow (quality filter → exact dedup →
    * per-language accounting) gated through the oracle end-to-end.
    */
  private val qTrainingPipeline: Q = (s, dir) =>
    graft.pipeline.TrainingDataPipeline.summary(Tables.documents(s, dir))
      .withColumn("n_tokens", col("n_tokens").cast("long"))

  private val trainingPipelineSql =
    s"""WITH q AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains($stopListSql, t))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
       |  FROM documents
       |), ok AS (
       |  SELECT * FROM q
       |  WHERE NOT (n_tokens < 5) AND NOT (ttr < 0.3) AND NOT (stop_ratio > 0.5)
       |), canon AS (
       |  SELECT min(doc_id) AS doc_id FROM ok GROUP BY text
       |)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM ok JOIN canon USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** The v2 composed pipeline: quality gate → exact dedup → NEAR-dup
    * clustering (blocked Jaccard pairs + connected components, keep cluster
    * minimum) → per-language accounting. The oracle composes the quality
    * CTEs, the blocked pair join and the recursive-CTE transitive closure —
    * the entire multi-stage flow hash-checked end to end.
    */
  private val qTrainingPipelineV2: Q = (s, dir) =>
    graft.pipeline.TrainingDataPipeline.summaryV2(Tables.documents(s, dir))
      .withColumn("n_tokens", col("n_tokens").cast("long"))

  private val trainingPipelineV2Sql =
    s"""WITH RECURSIVE qv AS (
       |  SELECT doc_id, lang, text, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains($stopListSql, t))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
       |  FROM documents
       |), okv AS (
       |  SELECT * FROM qv
       |  WHERE NOT (n_tokens < 5) AND NOT (ttr < 0.3) AND NOT (stop_ratio > 0.5)
       |), canonv AS (
       |  SELECT min(doc_id) AS doc_id FROM okv GROUP BY text
       |), surv AS (
       |  SELECT okv.* FROM okv JOIN canonv USING (doc_id)
       |), k AS (
       |  SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
       |    list_distinct(string_split(text, ' ')) AS toks
       |  FROM surv
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM k a JOIN k b ON a.lang = b.lang AND a.len_bucket = b.len_bucket
       |  WHERE a.doc_id < b.doc_id
       |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.6
       |), edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b AS u, doc_a AS v FROM pairs
       |), reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |), labels AS (
       |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
       |), kept AS (
       |  SELECT * FROM surv
       |  WHERE doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
       |)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_tokenizer_fertility", Batch, qTokenizerFertility, tokenizerFertilitySqlGen),
    QuerySpec("q_normalized_dedup", Batch, qNormalizedDedup, normalizedDedupSql),
    QuerySpec("q_char_entropy", Batch, qCharEntropy, charEntropySql),
    QuerySpec("q_shingle_explode", Batch, qShingleExplode, shingleExplodeSql),
    QuerySpec("q_token_stats", Batch, qTokenStats, tokenStatsSql),
    QuerySpec("q_text_quality", Batch, qTextQuality, textQualitySql),
    QuerySpec("q_lang_id", Batch, qLangId, langIdSql),
    QuerySpec("q_exact_dedup", Batch, qExactDedup, exactDedupSql),
    QuerySpec("q_training_pipeline", Batch, qTrainingPipeline, trainingPipelineSql),
    QuerySpec("q_training_pipeline_v2", Batch, qTrainingPipelineV2, trainingPipelineV2Sql),
    QuerySpec("q_ngram_jaccard", Batch, qNgramJaccard, ngramJaccardSql),
    QuerySpec("q_dedup_clusters", Batch, qDedupClusters, dedupClustersSql),
    QuerySpec("q_word_freq", Batch, qWordFreq, wordFreqSql),
    QuerySpec("q_token_budget", Batch, qTokenBudget, tokenBudgetSql),
    QuerySpec("q_heavy_hitters", Batch, qHeavyHitters, heavyHittersSql),
    QuerySpec("q_rep_ngrams", Batch, qRepNgrams, repNgramsSql),
    QuerySpec("q_decontaminate", Batch, qDecontaminate, decontaminateSql),
    QuerySpec("q_substring_dedup", Batch, qSubstringDedup,
      SketchOracleSql.substringDedupSql(k = 32)),
    QuerySpec("q_winnow_pairs", Batch, qWinnowPairs,
      SketchOracleSql.winnowPairsSql(k = 32, w = 16)),
    QuerySpec("q_bloom_decontaminate", Batch, qBloomDecontaminate, decontaminateSql),
    QuerySpec("q_fuzzy_join", Batch, qFuzzyJoin, fuzzyJoinSql),
    QuerySpec("q_boilerplate", Batch, qBoilerplate, boilerplateSql),
    QuerySpec("q_source_pref_dedup", Batch, qSourcePrefDedup, sourcePrefDedupSql),
    QuerySpec("q_source_overlap", Batch, qSourceOverlap, sourceOverlapSql),
    QuerySpec("q_mv_projection", Batch, qMvProjection, mvProjectionSql),
    QuerySpec("q_mv_rewrite", Batch, qMvRewrite, mvRewriteSql),
    QuerySpec("q_jsonl_roundtrip", Batch, qJsonlRoundtrip, jsonlRoundtripSqlGen),
    QuerySpec("q_corpus_zst", Batch, qCorpusZst, corpusZstSqlGen),
    QuerySpec("q_warc_roundtrip", Batch, qWarcRoundtrip, warcRoundtripSqlGen),
    QuerySpec("q_quality_classifier", Batch, qQualityClassifier, qualityClassifierSqlGen),
    QuerySpec("q_gopher_rules", Batch, qGopherRules, gopherRulesSql),
    QuerySpec("q_html_extract", Batch, qHtmlExtract, htmlExtractSqlGen),
    QuerySpec("q_c4_line_filter", Batch, qC4LineFilter, c4LineFilterSqlGen),
    QuerySpec("q_media_headers", Batch, qMediaHeaders, mediaHeadersSql),
    QuerySpec("q_av_container_meta", Batch, qAvContainerMeta, avContainerMetaSql),
    QuerySpec("q_charset_detect", Batch, qCharsetDetect, charsetDetectSql),
    QuerySpec("q_unicode_dedup", Batch, qUnicodeDedup, unicodeDedupSqlGen),
    QuerySpec("q_link_graph", Batch, qLinkGraph, linkGraphSqlGen),
    QuerySpec("q_robots_gate", Batch, qRobotsGate, robotsGateSql),
    QuerySpec("q_entity_resolution", Batch, qEntityResolution, entityResolutionSql),
    QuerySpec("q_subword_tokens", Batch, qSubwordTokens, subwordTokensSqlGen),
    QuerySpec("q_training_pipeline_v3", Batch, qTrainingPipelineV3, trainingPipelineV3SqlGen),
    QuerySpec("q_mv_prejoin", Batch, qMvPrejoin, mvPrejoinSql),
    QuerySpec("q_sketch_intersect", Batch, qSketchIntersect, sketchIntersectSql),
    QuerySpec("q_jsonl_corrupt", Batch, qJsonlCorrupt, jsonlCorruptSql),
    QuerySpec("q_seq_packing", Batch, qSeqPacking, seqPackingSql),
    QuerySpec("q_alpha_sampling", Batch, qAlphaSampling, alphaSamplingSql),
    QuerySpec("q_sketch_store", Batch, qSketchStore, sketchStoreSql),
    QuerySpec("q_quantile_store", Batch, qQuantileStore, quantileStoreSql),
    QuerySpec("q_unigram_lm", Batch, qUnigramLm, unigramLmSql),
    QuerySpec("q_hash_split", Batch, qHashSplit, hashSplitSql),
    QuerySpec("q_range_join", Batch, qRangeJoin, rangeJoinSql),
    QuerySpec("q_tfidf", Batch, qTfidf, tfidfSql),
    QuerySpec("q_stratified_sample", Batch, qStratifiedSample, stratifiedSampleSql),
    QuerySpec("q_gap_fill", Batch, qGapFill, gapFillSql),
    QuerySpec("q_unpivot", Batch, qUnpivot, unpivotSql),
    QuerySpec("q_histogram", Batch, qHistogram, histogramSql),
    QuerySpec("q_doc_fingerprint", Batch, qDocFingerprint, docFingerprintSql),
    QuerySpec("q_salted_join", Batch, qSaltedJoin, saltedJoinSql),
    QuerySpec("q_zorder_layout", Batch, qZorderLayout, zorderLayoutSql),
    QuerySpec("q_stats_pruning", Batch, qStatsPruning, statsPruningSql),
    QuerySpec("q_bloom_index", Batch, qBloomIndex, bloomIndexSql),
    QuerySpec("q_jdbc_extract", Batch, qJdbcExtract, jdbcExtractSql),
    QuerySpec("q_jdbc_agg", Batch, qJdbcAgg, jdbcAggSql),
    QuerySpec("q_jdbc_topn", Batch, qJdbcTopN, jdbcTopNSql),
    QuerySpec("q_jdbc_avg", Batch, qJdbcAvg, jdbcAvgSql),
    QuerySpec("q_compaction", Batch, qCompaction, compactionSql),
    QuerySpec("q_bucketed_join", Batch, qBucketedJoin, bucketedJoinSql),
    QuerySpec("q_csv_roundtrip", Batch, qCsvRoundtrip, csvRoundtripSql),
    QuerySpec("q_seqfile_roundtrip", Batch, qSeqfileRoundtrip, csvRoundtripSql),
    QuerySpec("q_band_index_probe", Batch, qBandIndexProbe,
      SketchOracleSql.bandIndexProbeSql(splitId = 400, minEstJaccard = 0.5)),
    QuerySpec("q_band_compaction", Batch, qBandCompaction, bandCompactionSql),
    QuerySpec("q_stream_neardup", Drain, qStreamNeardup,
      // same kernel as the drain, one batch replay (pair set is boundary-independent)
      SketchOracleSql.streamIngestGateSql(splitId = 400, minEstJaccard = 0.5)),
    QuerySpec("q_minhash_neardups", Batch, qMinhashNearDups,
      SketchOracleSql.minHashNearDupsSql(threshold = 0.5)),
    QuerySpec("q_simhash_neardups", Batch, qSimhashNearDups,
      SketchOracleSql.simHashNearDupsSql(maxHamming = 6)),
    QuerySpec("q_synth_source", Batch, qSynthSource, synthSourceSqlGen),
    QuerySpec("q_synth_agg_pushdown", Batch, qSynthAggPushdown, synthAggPushdownSql))
}
