package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.VectorFunctions
import org.apache.spark.sql.graftx.RollingHash.rolling_hash
import graft.similarity.{KMeansIvf, ModelCache, ProductQuantizer, Similarity}

import CatalogCommon._
import Kind.{Batch, Drain}

/** Vector search over `embeddings` (brute-force top-k, LSH, IVF, PQ,
  * HNSW and graph ANN, PCA) and the IVF store; also the Avro and protobuf
  * round trips, dictionary encoding, k-core and shortest paths, skew
  * handling and point-in-time joins.
  */
private[graft] object EmbeddingQueries {

  // ------------------------------------------------------------ embeddings

  private val qCosineTopk: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy("query_id", "rk")
  }

  private val cosineTopkSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${cosSql("qvec", "cvec")} AS cos
       |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id
       |)
       |SELECT query_id, neighbor_id, cos, rk FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored) t
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  private val qEmbeddingNearDups: Q = (s, dir) =>
    Similarity.cosineNearDups(Tables.embeddings(s, dir), threshold = 0.2)
      .orderBy("vec_a", "vec_b")

  private val embeddingNearDupsSql =
    s"""WITH k AS (
       |  SELECT vec_id, embedding, ${lshBucketSqlFor("embedding")} AS bucket FROM embeddings
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${cosSql("a.embedding", "b.embedding")} AS cos
       |FROM k a JOIN k b ON a.bucket = b.bucket
       |WHERE a.vec_id < b.vec_id
       |  AND ${cosSql("a.embedding", "b.embedding")} >= 0.2
       |ORDER BY vec_a, vec_b""".stripMargin

  /** The opt-in Catalyst rule on the declared path: the query is written as
    * the NAIVE all-pairs cosine cross join; RewriteCosineSelfJoin (added to
    * an isolated clone of the caller's session with its conf flag on)
    * rewrites the plan into the LSH-bucket equi-join, and the oracle checks
    * the BLOCKED semantics — the same result as ⊕ q_embedding_neardups. The
    * caller's session is left without the rule and the flag.
    */
  private val qCosineRewrite: Q = (s0, dir) => {
    import org.apache.spark.sql.graftx.{IsolatedSession, RewriteCosineSelfJoin}
    val s = IsolatedSession(s0, Map("spark.graft.similarity.rewrite" -> "true"),
      Seq(RewriteCosineSelfJoin))
    val emb = Tables.embeddings(s, dir)
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.crossJoin(b)
      .filter(VectorFunctions.cosine(col("emb_a"), col("emb_b")) >= 0.2 &&
        col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        VectorFunctions.cosine(col("emb_a"), col("emb_b")).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** JL random projection (VectorFunctions.randomProjection) with a FULL
    * value-level oracle: 64-dim embeddings down to 16 dims, exploded to one
    * row per (vector, output dim). The weights are the PRNG-free integer
    * family, the fold is strict left-to-right double — DuckDB replays the
    * identical arithmetic, so every projected coordinate hash-matches
    * bit-for-bit (no bound-check indirection needed).
    */
  private val qRandProjection: Q = (s, dir) =>
    Tables.embeddings(s, dir)
      .filter(col("vec_id") < 25)
      .select(col("vec_id"),
        posexplode(VectorFunctions.randomProjection(col("embedding"), 16)))
      .select(col("vec_id"), col("pos").cast("long").as("d"), col("col").as("val"))
      .orderBy("vec_id", "d")

  private val randProjectionSql =
    """SELECT vec_id, CAST(j AS BIGINT) AS d,
      |  list_sum(list_transform(generate_series(1, len(embedding)),
      |    i -> CAST(embedding[i] AS DOUBLE) *
      |      CAST(xor((i-1)*73856093, j*19349663) % 7 - 3 AS DOUBLE))) AS val
      |FROM embeddings, generate_series(0, 15) t(j)
      |WHERE vec_id < 25
      |ORDER BY vec_id, d""".stripMargin

  /** PCA over int8-quantized embeddings (similarity.Pca): the corpus
    * contributes an EXACT integer Gram matrix (order-free long sums — the
    * accumulation path is hash-checked via the trace, which the oracle
    * recomputes independently by replaying the quantization in SQL), and
    * the 64×64 eigenproblem runs on the driver with deterministic Jacobi.
    * Eigen-structure checks (descending order, orthonormality, trace =
    * Σ eigenvalues) are emitted in-engine as booleans the oracle expects
    * TRUE — the sketch-oracle contract, with a bit-exact integer anchor.
    */
  private val qPca: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val (gram, n) = similarity.Pca.int8Gram(emb)
    val dim = gram.length
    val traceExact = (0 until dim).map(d => gram(d)(d)).sum
    val (evals, evecs) = similarity.Pca.jacobiEigen(
      gram.map(_.map(_.toDouble / n)))
    val descOk = evals.sliding(2).forall(p => p(0) >= p(1) - 1e-9)
    val orthoOk = {
      var worst = 0.0
      for (i <- evecs.indices; j <- i until dim) {
        val d = (0 until dim).map(k => evecs(i)(k) * evecs(j)(k)).sum
        worst = math.max(worst, math.abs(d - (if (i == j) 1.0 else 0.0)))
      }
      worst < 1e-8
    }
    val traceOk =
      math.abs(evals.sum - traceExact.toDouble / n) <= 1e-6 * math.abs(evals.sum)
    import s.implicits._
    (0 until 10).map(k =>
        (k.toLong, descOk, orthoOk, traceOk, traceExact))
      .toDF("k", "desc_ok", "ortho_ok", "trace_ok", "trace")
      .orderBy("k")
  }

  private val pcaSql =
    """WITH s0 AS (
      |  SELECT list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s,
      |    embedding
      |  FROM embeddings
      |), qz AS (
      |  SELECT list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT)) AS q
      |  FROM s0
      |), t AS (
      |  SELECT CAST(SUM(list_sum(list_transform(q, v -> v * v))) AS BIGINT) AS trace
      |  FROM qz
      |)
      |SELECT CAST(k AS BIGINT) AS k, TRUE AS desc_ok, TRUE AS ortho_ok,
      |  TRUE AS trace_ok, trace
      |FROM t, generate_series(0, 9) g(k) ORDER BY k""".stripMargin

  private val qAnnLsh: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy("query_id", "rk")
  }

  /** int8 scalar-quantized top-k (`Similarity.sqTopK`): 4× smaller scan
    * side, and because the similarity math is exact integer dot products,
    * the WHOLE quantized search is bit-reproducible in SQL — a full oracle,
    * unlike float-sum formulations which only match under a fixed fold
    * order.
    */
  private val qSqCosine: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.sqTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy("query_id", "rk")
  }

  private def idotSql(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a)[i] * ($b)[i]))"

  private val sqCosineSql = {
    val cosExpr =
      s"CAST(${idotSql("qq", "cq")} AS DOUBLE) / " +
        s"(sqrt(CAST(${idotSql("qq", "qq")} AS DOUBLE)) * " +
        s"sqrt(CAST(${idotSql("cq", "cq")} AS DOUBLE)))"
    s"""WITH s0 AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
       |  FROM embeddings
       |), qz AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 127 / s) AS BIGINT)) AS q
       |  FROM s0
       |), q AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, q AS cq FROM qz),
       |scored AS (
       |  SELECT query_id, neighbor_id, $cosExpr AS qcos
       |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id
       |)
       |SELECT query_id, neighbor_id, qcos, rk FROM (
       |  SELECT query_id, neighbor_id, qcos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored) t
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** Multi-probe LSH ANN (`Similarity.ivfTopK`): each query probes its own
    * bucket plus Hamming-1 neighbors. Deterministic end to end, so this ANN
    * variant gets a FULL oracle — the probe list is the same XOR expansion
    * in SQL.
    */
  private val qAnnIvfProbes: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5, nprobe = 4)
      .orderBy("query_id", "rk")
  }

  private val annIvfProbesSql =
    s"""WITH k AS (
       |  SELECT vec_id, embedding, ${lshBucketSqlFor("embedding")} AS bucket FROM embeddings
       |), q0 AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, bucket AS qb FROM k WHERE vec_id < 5
       |), q AS (
       |  SELECT query_id, qvec, u.b AS bucket
       |  FROM q0, UNNEST([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4)]) AS u(b)
       |), scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("qvec", "c.embedding")} AS cos
       |  FROM k c JOIN q ON c.bucket = q.bucket
       |  WHERE query_id <> c.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rk FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored) t
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Full oracle: the LSH probe is deterministic (generated hyperplane
    * constants), so the whole bucket-restricted top-k is SQL-expressible —
    * same bucket bits, same exact-order cosine, same ranking tie-break.
    */
  private val annLshSql =
    s"""WITH k AS (
       |  SELECT vec_id, embedding, ${lshBucketSqlFor("embedding")} AS bucket FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, bucket FROM k WHERE vec_id < 5
       |), scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("qvec", "c.embedding")} AS cos
       |  FROM k c JOIN q ON c.bucket = q.bucket
       |  WHERE query_id <> c.vec_id
       |)
       |SELECT query_id, neighbor_id, cos, rk FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored) t
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** k-means IVF ANN (deterministic fit: lowest-id init, 3 Lloyd's iters).
    *
    * The k-means fit is float-order-sensitive, so the IVF result itself is
    * not SQL-reproducible; instead the query measures recall@5 against the
    * exact brute-force top-k IN-ENGINE and emits the bound check as data.
    * The oracle recomputes the query count and expects `recall_ok = TRUE` —
    * a broken index drops recall below the bound and the hash compare goes
    * red. (0.2 mirrors SimilaritySpec: 4/16 clusters probed on near-random
    * synthetic embeddings; observed recall is far higher.)
    */
  /** Shared recall@k harness for the approximate-index queries: one row
    * (n_queries, recall_ok) where n_queries is oracle-computable and
    * recall_ok gates the index against the exact brute-force top-k.
    */
  private def recallCheck(queries: DataFrame, approx: DataFrame,
      exact: DataFrame, bound: Double): DataFrame = {
    val nQueries = queries.agg(countDistinct(col("vec_id")).as("n_queries"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nHit = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hit"))
    nQueries.crossJoin(broadcast(nExact)).crossJoin(broadcast(nHit))
      .select(
        col("n_queries"),
        (col("n_hit").cast("double") / col("n_exact").cast("double") >= lit(bound))
          .as("recall_ok"))
  }

  /** Fitted-model accessors: ANN quantizers are build-once artifacts, so the
    * declared queries share one fit per (dataset, hyperparams) via
    * [[ModelCache]] instead of re-running Lloyd's per query. Fits are
    * deterministic, so cached and refit models are bit-identical.
    */
  private def ivfCentroids(emb: DataFrame, dir: String): Array[Array[Double]] =
    ModelCache.getOrFit(s"ivf:k16:i3:$dir") { KMeansIvf.fit(emb, k = 16, iters = 3) }

  private def pqModel(emb: DataFrame, dim: Int, dir: String): ProductQuantizer.Model =
    ModelCache.getOrFit(s"pq:m8:k16:i3:$dir") {
      ProductQuantizer.fit(emb, dim, m = 8, k = 16, iters = 3)
    }

  private def embDim(emb: DataFrame, dir: String): Int =
    ModelCache.getOrFit(s"dim:$dir") {
      java.lang.Integer.valueOf(emb.select(size(col("embedding"))).head().getInt(0))
    }.intValue()

  private val qAnnIvf: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = ivfCentroids(emb, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val ivf = KMeansIvf.search(KMeansIvf.index(emb, centroids),
      queries, centroids, k = 5, nprobe = 4)
    recallCheck(queries, ivf, Similarity.bruteForceTopK(emb, queries, k = 5),
      bound = 0.2)
  }

  private val annIvfSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 5""".stripMargin

  /** Incremental corpus ingestion — the reference's incremental-backup
    * discipline applied to the training pipeline: wave 1 (older docs) is
    * deduped and its 16-byte fingerprint index PERSISTED; wave 2 processes
    * ONLY new docs, deduping within itself and against the index (an
    * anti join on longs — historical text is never refetched), then
    * appends. The result is provably identical to batch-deduping the full
    * corpus (min-id canonical + id-ordered waves commute), which is
    * exactly what the oracle checks.
    */
  private val qIncrementalCorpus: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val split = 250L
    val wave1 = docs.filter(col("doc_id") < split)
    val wave2 = docs.filter(col("doc_id") >= split)
    // wave 1: dedup, persist canon + fingerprint index
    Dedup.exactByFingerprint(wave1)
      .select(col("fp"), col("canonical_id"))
      .write.mode("overwrite").parquet(s"$tmp/fp_index")
    wave1.join(
        Dedup.exactByFingerprint(wave1).select(col("canonical_id").as("doc_id")),
        "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/corpus")
    // wave 2 (later run): known fingerprints excluded via the index —
    // only (long, long) rows shuffle, no historical text
    val idx = s.read.parquet(s"$tmp/fp_index").select(col("fp"))
    val w2canon = Dedup.exactByFingerprint(wave2)
      .join(idx, Seq("fp"), "left_anti")
      .select(col("canonical_id").as("doc_id"))
    wave2.join(w2canon, "doc_id")
      .write.mode("append").parquet(s"$tmp/corpus")
    // accounting over the incrementally-built corpus
    s.read.parquet(s"$tmp/corpus")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), expr("bit_xor(doc_id)").as("id_xor"),
        sum(col("n_chars")).as("chars"))
      .orderBy("lang")
  }

  /** Oracle: batch dedup of the FULL corpus (min doc_id per text). */
  private val incrementalCorpusSql =
    """WITH canon AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
      |)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents JOIN canon USING (doc_id)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Point-in-time join — the warehouse pattern of joining facts to the
    * SCD2 dimension version valid AT fact time: Scd2.build produces the
    * version history, simultaneous changes collapse to their final
    * version, and the as-of join (one shuffle + in-partition sort)
    * attaches each purchase's state. The oracle replays SCD2 and uses
    * DuckDB's native ASOF JOIN — tie rules must agree exactly.
    */
  private val qPitJoin: Q = (s, dir) => {
    val evRaw = Tables.events(s, dir)
    // dimension: the user's last NON-purchase activity state — so each
    // purchase attributes to what the user was doing when they bought
    val versions = graft.etl.Scd2
      .build(evRaw.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")), Seq("user_id"), "event_type", "ts", Seq("event_id"))
      .select(col("user_id"), col("event_type"), col("version"),
        unix_micros(col("valid_from")).as("tus"))
    val dim = versions.groupBy(col("user_id"), col("tus"))
      .agg(max(struct(col("version"), col("event_type"))).as("m"))
      .select(col("user_id"), col("tus"), col("m.event_type").as("state_type"))
    val facts = evRaw.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("value"))
    operators.AsofJoin(facts, dim, "user_id", "tus", Seq("state_type"))
      .groupBy(coalesce(col("asof_state_type"), lit("none")).as("state_type"))
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(event_id)").as("id_xor"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("val_sum"))
      .orderBy("state_type")
  }

  private val pitJoinSql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type, value
      |  FROM events
      |), marked AS (
      |  SELECT user_id, tus, event_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS prev_type
      |  FROM ev WHERE event_type <> 'purchase'
      |), changed AS (
      |  SELECT user_id, tus, event_id, event_type FROM marked
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |), versions AS (
      |  SELECT user_id, event_type,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS BIGINT) AS version,
      |    tus AS from_us
      |  FROM changed
      |), dim AS (
      |  SELECT user_id, from_us, arg_max(event_type, version) AS state_type
      |  FROM versions GROUP BY 1, 2
      |), facts AS (
      |  SELECT user_id, tus, event_id, CAST(value AS DECIMAL(18,6)) AS v
      |  FROM ev WHERE event_type = 'purchase'
      |)
      |SELECT COALESCE(d.state_type, 'none') AS state_type, COUNT(*) AS n,
      |  CAST(bit_xor(f.event_id) AS BIGINT) AS id_xor,
      |  CAST(SUM(f.v) AS DOUBLE) AS val_sum
      |FROM facts f ASOF LEFT JOIN dim d
      |  ON f.user_id = d.user_id AND f.tus >= d.from_us
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming classifier gate (streaming.DocsStream): the hashed-linear
    * quality filter applied inside Structured Streaming (codegen
    * inference per micro-batch, stateless), drained AvailableNow to
    * parquet, then aggregated. The oracle replays the classifier over the
    * batch table — the hash matches only if the stream passed exactly the
    * batch-gated rows with identical scores.
    */
  private val qStreamClassify: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sclass").toString
    streaming.DocsStream.classifyDrain(s, dir, s"$tmp/out", s"$tmp/ck")
    s.read.parquet(s"$tmp/out")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(doc_id)").as("id_xor"),
        sum(col("w_sum")).as("w_total"))
      .orderBy("lang")
  }

  private def streamClassifySqlGen: String =
    s"""SELECT lang, COUNT(*) AS n,
       |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
       |  CAST(SUM(score) AS BIGINT) AS w_total
       |FROM (SELECT doc_id, lang,
       |        ${graft.quality.LinearScorer.scoreSql("text")} AS score
       |      FROM documents) t
       |WHERE score > 0 GROUP BY lang ORDER BY lang""".stripMargin

  /** Key-skew diagnostics: the pre-flight a 100 TB join/agg runs to decide
    * whether to salt — per-key count distribution (median/p99/max), the
    * hottest key's share, and the suggested salt factor
    * (⌈max_key_rows / mean_key_rows⌉ — how many ways the hottest key must
    * split to look average). One aggregate over the key histogram; the
    * histogram itself is the partial-agg'd groupBy.
    */
  private val qSkewStats: Q = (s, dir) => {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("c"))
    counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_key_rows"),
        expr("percentile(c, 0.5)").as("p50"),
        expr("percentile(c, 0.99)").as("p99"))
      .withColumn("suggested_salts",
        ceil(col("max_key_rows") * col("n_keys") / col("n_rows")).cast("long"))
  }

  private val skewStatsSql =
    """WITH h AS (SELECT l_suppkey AS key, COUNT(*) AS c FROM lineitem GROUP BY 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(c) AS BIGINT) AS n_rows,
      |  CAST(MAX(c) AS BIGINT) AS max_key_rows,
      |  percentile_cont(0.5) WITHIN GROUP (ORDER BY c) AS p50,
      |  percentile_cont(0.99) WITHIN GROUP (ORDER BY c) AS p99,
      |  CAST(CEIL(MAX(c) * COUNT(*) / CAST(SUM(c) AS DOUBLE)) AS BIGINT)
      |    AS suggested_salts
      |FROM h""".stripMargin

  /** Join-cardinality estimation from per-key histograms — the planning
    * companion of q_skew_stats. |A ⋈ B| on a key equals Σ_k cA(k)·cB(k),
    * computable from two input-sized aggregates WITHOUT materializing the
    * join — at 100 TB that is the difference between sizing a
    * possibly-exploding self-join and running it to find out. Sized here:
    * the lineitem partkey self-join (the q17 shape). Emits exact output
    * rows, the hottest key's contribution, and the integer-math strategy
    * verdict a driver would act on (salt the hot keys vs plain shuffle).
    */
  private val qJoinCardinality: Q = (s, dir) => {
    val perKey = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("c"))
    perKey.agg(
        sum(col("c") * col("c")).as("join_rows"),
        max(col("c") * col("c")).as("max_key_rows"),
        count(lit(1)).as("n_keys"),
        sum(col("c")).as("input_rows"))
      .select(col("join_rows"), col("max_key_rows"), col("n_keys"),
        col("input_rows"),
        when(col("max_key_rows") * 20 > col("join_rows"), "salt_hot_keys")
          .otherwise("shuffle_ok").as("strategy"))
  }

  private val joinCardinalitySql =
    """WITH h AS (
      |  SELECT l_partkey AS key, COUNT(*) AS c FROM lineitem GROUP BY 1
      |)
      |SELECT CAST(SUM(c * c) AS BIGINT) AS join_rows,
      |  CAST(MAX(c * c) AS BIGINT) AS max_key_rows,
      |  COUNT(*) AS n_keys,
      |  CAST(SUM(c) AS BIGINT) AS input_rows,
      |  CASE WHEN MAX(c * c) * 20 > SUM(c * c) THEN 'salt_hot_keys'
      |       ELSE 'shuffle_ok' END AS strategy
      |FROM h""".stripMargin

  /** AQE skew-join: the runtime complement of the manual SaltedJoin. A
    * deliberately skewed fact (≈3/4 of lineitem lands on one join key) is
    * joined to a tiny dim with broadcast DISABLED, so the planner picks a
    * shuffled join and AQE's OptimizeSkewedJoin must split the oversized
    * partition at runtime from map-output statistics — the 100 TB answer
    * when the skewed keys aren't known in advance (SaltedJoin is the
    * static answer when they are). The query executes once internally on
    * an isolated clone of the caller's session (tuned skew thresholds; the
    * caller's session is untouched) and emits `skew_split` — whether the
    * final adaptive plan actually split the skewed partition — as
    * oracle-comparable data alongside the join aggregate itself. The hash matches only if the skew handling
    * both fired AND preserved the exact join semantics.
    */
  private val qAqeSkewJoin: Q = (s0, dir) => {
    val s = org.apache.spark.sql.graftx.IsolatedSession(s0, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192"))
    // round-robin pre-repartition models a real cluster's many map tasks:
    // AQE splits a skewed reduce partition at MAPPER granularity, so a
    // single-file local scan (one mapper) would leave nothing to split
    val li = Tables.lineitem(s, dir).select(
      when(col("l_orderkey") % 4 =!= 0, lit(0L))
        .otherwise(col("l_orderkey") % 31 + 1).as("skew_key"),
      col("l_extendedprice"), col("l_quantity")).repartition(8)
    val dim = s.range(0, 32).select(col("id").as("skew_key"),
      concat(lit("grp_"), (col("id") % 4).cast("string")).as("grp"))
    val agg = li.join(dim, "skew_key")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
          .as("rev"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("qty"))
    // one materializing action finalizes the adaptive plan AND yields the
    // 4-row result; returning it as local rows avoids re-running the join
    // when the caller executes the returned frame
    val ordered = agg.orderBy("grp")
    val rows = ordered.collect()
    val split =
      ordered.queryExecution.executedPlan.toString.contains("skew=true")
    import scala.jdk.CollectionConverters._
    val out = rows.map(r =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ split)).toSeq.asJava
    s.createDataFrame(out, org.apache.spark.sql.types.StructType(
      agg.schema.fields :+ org.apache.spark.sql.types.StructField(
        "skew_split", org.apache.spark.sql.types.BooleanType, nullable = false)))
  }

  private val aqeSkewJoinSql =
    """WITH li AS (
      |  SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0
      |              ELSE l_orderkey % 31 + 1 END AS skew_key,
      |         l_extendedprice, l_quantity
      |  FROM lineitem
      |), dim AS (
      |  SELECT i AS skew_key, 'grp_' || CAST(i % 4 AS VARCHAR) AS grp
      |  FROM range(0, 32) t(i)
      |)
      |SELECT grp, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
      |  TRUE AS skew_split
      |FROM li JOIN dim USING (skew_key)
      |GROUP BY grp ORDER BY grp""".stripMargin

  /** k-core peeling (operators.KCore) over the supplier–part bipartite
    * graph: iterative degree-< k node deletion for a FIXED round count,
    * with convergence reported in-band. The oracle replays every round as
    * generated CTEs (the LabelPropagation discipline) — node set, edge
    * count and the fixed-point flag are all hash-checked.
    */
  private val qKCore: Q = (s, dir) => {
    val pairs = Tables.lineitem(s, dir)
      .select((col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
    operators.KCore.run(pairs, "a", "b", k = KCoreK, rounds = KCoreRounds)
  }

  private val KCoreK = 20
  private val KCoreRounds = 4

  /** Single-source shortest paths (operators.ShortestPaths): Bellman–Ford
    * over the quantity-weighted supplier–part bipartite graph from
    * supplier #0, a fixed hop bound, convergence in-band. The oracle
    * replays every relaxation round as generated CTEs (the KCore
    * discipline) including the convergence comparison of the final two
    * rounds; `path_xor` binds every reached node to its exact distance.
    */
  private val qShortestPaths: Q = (s, dir) => {
    val base = Tables.lineitem(s, dir)
      .groupBy((col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      .agg(min(col("l_quantity")).cast("long").as("w"))
    val edges = base.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(base.select(col("b").as("src"), col("a").as("dst"), col("w")))
    operators.ShortestPaths.run(edges, source = 0L, rounds = SsspRounds)
  }

  private val SsspRounds = 4

  private def shortestPathsSqlGen: String = {
    val rounds = (1 to SsspRounds).map { i =>
      s"""d$i AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT e.dst AS node, d.dist + e.w AS dist
         |    FROM d${i - 1} d JOIN e ON d.node = e.src
         |    UNION ALL SELECT node, dist FROM d${i - 1}
         |  ) t GROUP BY node)""".stripMargin
    }.mkString(",\n")
    val r = SsspRounds
    s"""WITH e0 AS (
       |  SELECT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b,
       |         CAST(MIN(l_quantity) AS BIGINT) AS w
       |  FROM lineitem GROUP BY 1, 2
       |), e AS (
       |  SELECT a AS src, b AS dst, w FROM e0
       |  UNION ALL SELECT b AS src, a AS dst, w FROM e0
       |), d0 AS (
       |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
       |),
       |$rounds
       |SELECT COUNT(*) AS n_reached,
       |  CAST(SUM(dist) AS BIGINT) AS dist_sum,
       |  CAST(MAX(dist) AS BIGINT) AS dist_max,
       |  CAST(bit_xor(node * 100000 + dist) AS BIGINT) AS path_xor,
       |  (SELECT COUNT(*) FROM d${r - 1}) = (SELECT COUNT(*) FROM d$r)
       |    AND (SELECT CAST(SUM(dist) AS BIGINT) FROM d${r - 1})
       |      = (SELECT CAST(SUM(dist) AS BIGINT) FROM d$r) AS converged
       |FROM d$r""".stripMargin
  }

  private def kcoreSqlGen: String = {
    val rounds = (1 to KCoreRounds).map { i =>
      s"""n$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= $KCoreK),
         |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
         |        JOIN n$i x ON e.src = x.src JOIN n$i y ON e.dst = y.src)""".stripMargin
    }.mkString(",\n")
    val last = s"e$KCoreRounds"
    val prev = s"e${KCoreRounds - 1}"
    s"""WITH p AS (
       |  SELECT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b FROM lineitem
       |), e0 AS (
       |  SELECT DISTINCT a AS src, b AS dst FROM p WHERE a <> b
       |  UNION SELECT b AS src, a AS dst FROM p WHERE a <> b
       |),
       |$rounds
       |SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
       |  CAST(bit_xor(DISTINCT src) AS BIGINT) AS node_xor,
       |  CAST((SELECT COUNT(*) FROM $last WHERE src < dst) AS BIGINT) AS n_edges,
       |  (SELECT COUNT(DISTINCT src) FROM $prev) = COUNT(DISTINCT src) AS converged
       |FROM $last""".stripMargin
  }

  /** The pure-SQL surface end to end: graft's native expressions reached
    * through `spark.sql(...)` text (GraftFunctions registry) over a temp
    * view — rolling_hash fingerprints and subword_pieces token accounting
    * per language, hash-checked like any Column-API query. Proves a SQL-
    * only client gets the same engine.
    */
  private val qSqlSurface: Q = (s, dir) => {
    org.apache.spark.sql.graftx.GraftFunctions.registerAll(s)
    Tables.documents(s, dir).createOrReplaceTempView("docs_sql")
    s.sql("""SELECT lang, COUNT(*) AS n,
      CAST(bit_xor(rolling_hash(text)) AS BIGINT) AS fp_xor,
      CAST(SUM(size(subword_pieces(text))) AS BIGINT) AS pieces
      FROM docs_sql GROUP BY lang ORDER BY lang""")
  }

  private def sqlSurfaceSqlGen: String =
    s"""WITH RECURSIVE ${subwordCtes("documents")}, np AS (
       |  SELECT t.doc_id, SUM(len(d.pieces)) AS n_pieces
       |  FROM toks t JOIN done d USING (word) GROUP BY t.doc_id)
       |SELECT lang, COUNT(*) AS n,
       |  CAST(bit_xor(${u64ToSigned(rollingFoldSql("text"))}) AS BIGINT) AS fp_xor,
       |  CAST(SUM(COALESCE(np.n_pieces, 0)) AS BIGINT) AS pieces
       |FROM documents LEFT JOIN np USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Avro container round-trip (sources.Avro — built on the Avro core
    * API): a typed orders projection out to deflate containers and back
    * with an explicit schema, aggregated per priority with an order-free
    * key xor + exact decimal money sum. The oracle aggregates the source
    * directly — the hash matches only if every row and value survived the
    * binary hop. Completes S10's alternate-format set with the Kafka/
    * Hadoop interchange container.
    */
  private val qAvroRoundtrip: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-avro").toString
    val src = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("double").as("price"),
      col("o_orderpriority").as("prio"),
      col("o_orderdate").cast("string").as("odate"))
    graft.sources.Avro.write(src, s"$tmp/a", numFiles = 4)
    graft.sources.Avro.read(s, s"$tmp/a", src.schema)
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(o_orderkey)").as("key_xor"),
        sum(col("o_custkey")).as("cust_sum"),
        sum(col("price").cast("decimal(18,4)")).cast("double").as("price_sum"),
        max(col("odate")).as("last_date"))
      .orderBy("prio")
  }

  private val avroRoundtripSql =
    """SELECT o_orderpriority AS prio, COUNT(*) AS n,
      |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
      |  CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
      |  CAST(MAX(o_orderdate) AS VARCHAR) AS last_date
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Protobuf wire-format round-trip (sources.ProtoWire): a typed lineitem
    * projection out to gzip'd length-delimited protobuf containers and
    * back with an explicit schema. The derived `days_off` column goes
    * negative for roughly half the rows, so the zigzag varint path is
    * exercised on real data, not just in the spec. The oracle aggregates
    * the source directly — the hash matches only if every row and value
    * survived the wire encoding. Completes S10's alternate-format set with
    * the RPC-ingest interchange framing.
    */
  private val qProtoRoundtrip: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-proto").toString
    val src = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").as("qty"), col("l_returnflag").as("flag"),
      datediff(to_date(col("l_shipdate")), lit("1995-06-17")).cast("long")
        .as("days_off"))
    graft.sources.ProtoWire.write(src, s"$tmp/p", numFiles = 4)
    graft.sources.ProtoWire.read(s, s"$tmp/p", src.schema)
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(l_orderkey)").as("key_xor"),
        sum(col("qty").cast("decimal(18,4)")).cast("double").as("qty_sum"),
        sum(col("days_off")).as("days_sum"),
        min(col("days_off")).as("days_min"),
        max(col("l_linenumber")).as("line_max"))
      .orderBy("flag")
  }

  private val protoRoundtripSql =
    """SELECT l_returnflag AS flag, COUNT(*) AS n,
      |  CAST(bit_xor(l_orderkey) AS BIGINT) AS key_xor,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty_sum,
      |  CAST(SUM(date_diff('day', DATE '1995-06-17',
      |    CAST(l_shipdate AS DATE))) AS BIGINT) AS days_sum,
      |  CAST(MIN(date_diff('day', DATE '1995-06-17',
      |    CAST(l_shipdate AS DATE))) AS BIGINT) AS days_min,
      |  MAX(l_linenumber) AS line_max
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Replica reconciliation (operators.Reconcile): the 100 TB upgrade of
    * the reference's post-copy rowcount validation. A corrupted replica of
    * orders (keys ≡7 mod 1000 dropped, prices ≡13 mod 1000 bumped) is
    * reconciled against the source via per-bucket (count, fingerprint-xor)
    * digests; only disagreeing buckets ship rows into the row-level diff.
    * The oracle finds the true diff set INDEPENDENTLY — it replays the
    * corruption and compares values directly, never fingerprints — so the
    * hash matches only if the digest path finds exactly the real
    * discrepancies (a fingerprint collision or bucket error would surface).
    * Prices are quantized to integer cents before fingerprinting so the
    * canonical rendering is engine-portable.
    */
  private val qReplicaReconcile: Q = (s, dir) => {
    val n = 64
    val src = Tables.orders(s, dir).select(col("o_orderkey").as("key"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val rep = src.filter(col("key") % 1000 =!= 7)
      .withColumn("cents",
        when(col("key") % 1000 === 13, col("cents") + 100L)
          .otherwise(col("cents")))
    def proj(df: DataFrame) = df.select(col("key"),
      operators.Reconcile.fingerprint(col("key"), col("cents")).as("fp"))
    val diffs = operators.Reconcile.rowDiff(proj(src), proj(rep), n)
    val byKind = diffs.groupBy("kind")
      .agg(count(lit(1)).as("n"), expr("bit_xor(key)").as("key_xor"),
        min(col("key")).as("key_min"), max(col("key")).as("key_max"))
    val buckets = operators.Reconcile.bucketDiff(proj(src), proj(rep), n)
      .agg(count(lit(1)).as("n"), expr("bit_xor(bucket)").as("key_xor"),
        min(col("bucket")).as("key_min"), max(col("bucket")).as("key_max"))
      .select(lit("bucket_mismatch").as("kind"), col("n"), col("key_xor"),
        col("key_min"), col("key_max"))
    byKind.unionByName(buckets).orderBy("kind")
  }

  private val replicaReconcileSql =
    """WITH src AS (
      |  SELECT o_orderkey AS key,
      |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), rep AS (
      |  SELECT key, CASE WHEN key % 1000 = 13 THEN cents + 100
      |                   ELSE cents END AS cents
      |  FROM src WHERE key % 1000 <> 7
      |), diffs AS (
      |  SELECT 'only_left' AS kind, key FROM src
      |  WHERE key NOT IN (SELECT key FROM rep)
      |  UNION ALL
      |  SELECT 'changed' AS kind, s.key FROM src s JOIN rep r USING (key)
      |  WHERE s.cents <> r.cents
      |)
      |SELECT kind, COUNT(*) AS n, CAST(bit_xor(key) AS BIGINT) AS key_xor,
      |  MIN(key) AS key_min, MAX(key) AS key_max
      |FROM diffs GROUP BY kind
      |UNION ALL
      |SELECT 'bucket_mismatch' AS kind, COUNT(*) AS n,
      |  CAST(bit_xor(b) AS BIGINT) AS key_xor, MIN(b) AS key_min,
      |  MAX(b) AS key_max
      |FROM (SELECT DISTINCT key % 64 AS b FROM diffs) t
      |ORDER BY kind""".stripMargin

  /** Continuous protobuf ingest (ProtoWire.readStream): wave 1 of the
    * containers is drained AvailableNow into a parquet sink; wave 2 lands
    * and a RESTARTED drain (same checkpoint) must ingest only the new
    * archives — the binaryFile source's processed-file log is what makes
    * re-delivery impossible. The oracle aggregates the full source
    * directly, so the hash matches only if the two drains together ingest
    * every row exactly once.
    */
  private val qStreamProto: Q = (s, dir) => {
    val src = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_quantity").as("qty"),
      col("l_returnflag").as("flag"))
    // encoding the two container waves is producer-side input generation —
    // build-once; the timed operator is the streaming ingest (decode +
    // exactly-once drain), which runs fresh each time
    val fx = Fixtures.getOrBuild(s"sproto:$dir") { f =>
      graft.sources.ProtoWire.write(
        src.filter(col("l_orderkey") % 2 === 0), s"$f/w1", numFiles = 3)
      graft.sources.ProtoWire.write(
        src.filter(col("l_orderkey") % 2 =!= 0), s"$f/w2", numFiles = 3)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-sproto").toString
    Fixtures.copyTree(s"$fx/w1", s"$tmp/in")
    def drain(): Unit = {
      val q = graft.sources.ProtoWire.readStream(s, s"$tmp/in", src.schema)
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    Fixtures.copyTree(s"$fx/w2", s"$tmp/in/wave2")
    drain()
    s.read.parquet(s"$tmp/out")
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(l_orderkey)").as("key_xor"),
        sum(col("qty").cast("decimal(18,4)")).cast("double").as("qty_sum"))
      .orderBy("flag")
  }

  private val streamProtoSql =
    """SELECT l_returnflag AS flag, COUNT(*) AS n,
      |  CAST(bit_xor(l_orderkey) AS BIGINT) AS key_xor,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty_sum
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Embedding vectors through the protobuf wire (packed repeated fixed32
    * — proto's layout for exactly this payload): the embeddings table out
    * to containers and back, checked bit-for-bit via a position-weighted
    * integer checksum over every element (ROUND(x·10⁶)·(i+1) summed —
    * any flipped bit, lost element or reordered position breaks the hash).
    * The oracle aggregates the source directly.
    */
  private val qProtoVectors: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-protovec").toString
    val src = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    graft.sources.ProtoWire.write(src, s"$tmp/v", numFiles = 4)
    graft.sources.ProtoWire.read(s, s"$tmp/v", src.schema)
      .groupBy((col("vec_id") % 8).as("grp"))
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(vec_id)").as("id_xor"),
        sum(expr("""aggregate(
          transform(embedding,
            (x, i) -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                      * (CAST(i AS BIGINT) + 1)),
          0L, (a, b) -> a + b)""")).as("vec_sum"),
        sum(size(col("embedding")).cast("long")).as("n_elems"))
      .orderBy("grp")
  }

  private val protoVectorsSql =
    """SELECT vec_id % 8 AS grp, COUNT(*) AS n,
      |  CAST(bit_xor(vec_id) AS BIGINT) AS id_xor,
      |  CAST(SUM(list_sum(list_transform(
      |    generate_series(1, len(embedding)),
      |    i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
      |         * i))) AS BIGINT) AS vec_sum,
      |  CAST(SUM(len(embedding)) AS BIGINT) AS n_elems
      |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin

  /** Dense surrogate-key dictionary (operators.DictEncode) — the
    * scale-correct replacement for Vertica sequence/nextval (F4): sorted
    * range-partitioned distinct terms, ids = per-partition offset + local
    * index (the zipWithIndex shape), NO global window. Built on an
    * even-customers wave, then extended with all customers + suppliers —
    * `extend` must keep wave-1 ids stable (anti-join) and continue densely
    * after max(id). The oracle replays both waves with ROW_NUMBER (fine at
    * oracle scale); `bind_sum` multiplies each id by the numeric suffix of
    * its term, so a single swapped assignment breaks the hash.
    */
  private val qDictEncode: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val supp = Tables.supplier(s, dir)
    val wave1 = cust.filter(col("c_custkey") % 2 === 0)
      .select(col("c_name").as("term"))
    val wave2 = cust.select(col("c_name").as("term"))
      .unionByName(supp.select(col("s_name").as("term")))
    val dict = operators.DictEncode.extend(
      operators.DictEncode.build(wave1, "term"), wave2, "term")
    dict.groupBy(substring(col("term"), 1, 8).as("entity"))
      .agg(count(lit(1)).as("n"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"),
        expr("bit_xor(id)").as("id_xor"),
        sum(col("id") * substring(col("term"), 10, 9).cast("long"))
          .as("bind_sum"))
      .orderBy("entity")
  }

  private val dictEncodeSql =
    """WITH w1 AS (
      |  SELECT DISTINCT c_name AS term FROM customer WHERE c_custkey % 2 = 0
      |), d1 AS (
      |  SELECT term, ROW_NUMBER() OVER (ORDER BY term) - 1 AS id FROM w1
      |), w2 AS (
      |  SELECT c_name AS term FROM customer
      |  UNION SELECT s_name AS term FROM supplier
      |), nw AS (
      |  SELECT DISTINCT term FROM w2
      |  WHERE term NOT IN (SELECT term FROM d1) AND term <> ''
      |), base AS (
      |  SELECT COALESCE(MAX(id), -1) + 1 AS b FROM d1
      |), d2 AS (
      |  SELECT term,
      |    (SELECT b FROM base) + ROW_NUMBER() OVER (ORDER BY term) - 1 AS id
      |  FROM nw
      |), dict AS (
      |  SELECT term, id FROM d1 UNION ALL SELECT term, id FROM d2
      |)
      |SELECT substr(term, 1, 8) AS entity, COUNT(*) AS n,
      |  CAST(MIN(id) AS BIGINT) AS min_id,
      |  CAST(MAX(id) AS BIGINT) AS max_id,
      |  CAST(bit_xor(id) AS BIGINT) AS id_xor,
      |  CAST(SUM(id * CAST(substr(term, 10, 9) AS BIGINT)) AS BIGINT)
      |    AS bind_sum
      |FROM dict GROUP BY 1 ORDER BY 1""".stripMargin

  /** Persisted IVF index (similarity.IvfStore): corpus written
    * cluster-partitioned, probes prune to their nprobe inverted lists at
    * the SCAN (partition filter, plan-asserted in IvfStoreSpec). The query
    * emits whether the store path returns row-identical results (ids,
    * ranks AND cosines) to the in-memory IVF search — engine-side
    * equality surfaced as oracle-comparable data, per the ANN pattern.
    */
  private val qIvfStore: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = ivfCentroids(emb, dir)
    // the cluster-partitioned store is THE build-once index artifact;
    // probes (the timed operator) are read-only against it
    val tmp = Fixtures.getOrBuild(s"ivfstore:$dir") { f =>
      graft.similarity.IvfStore.build(emb, f, cents)
    }
    val queries = emb.filter(col("vec_id") < 5)
    val store = graft.similarity.IvfStore.probe(queries, tmp, k = 5, nprobe = 4)
    val mem = KMeansIvf.search(KMeansIvf.index(emb, cents), queries, cents,
      k = 5, nprobe = 4)
    val cols = Seq("query_id", "neighbor_id", "cos", "rk").map(col)
    val d1 = store.select(cols: _*).exceptAll(mem.select(cols: _*))
      .agg(count(lit(1)).as("d1"))
    val d2 = mem.select(cols: _*).exceptAll(store.select(cols: _*))
      .agg(count(lit(1)).as("d2"))
    queries.agg(countDistinct(col("vec_id")).as("n_queries"))
      .crossJoin(broadcast(d1)).crossJoin(broadcast(d2))
      .select(col("n_queries"),
        (col("d1") === 0L && col("d2") === 0L).as("paths_equal"))
  }

  private val ivfStoreSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS paths_equal
      |FROM embeddings WHERE vec_id < 5""".stripMargin

  /** IVF index maintenance (similarity.IvfStore.append): the store is
    * built over the first 60% of the corpus, the remaining vectors arrive
    * as an APPEND wave — assigned by the PERSISTED quantizer (centroids
    * frozen, history never re-read) into the same cluster partitions — and
    * probing the merged store must return row-identical results to the
    * in-memory search over the full corpus with the same quantizer. The
    * vector twin of q_phrase_index_incremental.
    */
  private val qIvfAppend: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = ivfCentroids(emb, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfapp").toString
    graft.similarity.IvfStore.build(emb.filter(col("vec_id") < 300), tmp, cents)
    graft.similarity.IvfStore.append(emb.filter(col("vec_id") >= 300), tmp)
    val queries = emb.filter(col("vec_id") < 5)
    val store = graft.similarity.IvfStore.probe(queries, tmp, k = 5, nprobe = 4)
    val mem = KMeansIvf.search(KMeansIvf.index(emb, cents), queries, cents,
      k = 5, nprobe = 4)
    val cols = Seq("query_id", "neighbor_id", "cos", "rk").map(col)
    val d1 = store.select(cols: _*).exceptAll(mem.select(cols: _*))
      .agg(count(lit(1)).as("d1"))
    val d2 = mem.select(cols: _*).exceptAll(store.select(cols: _*))
      .agg(count(lit(1)).as("d2"))
    queries.agg(countDistinct(col("vec_id")).as("n_queries"))
      .crossJoin(broadcast(d1)).crossJoin(broadcast(d2))
      .select(col("n_queries"),
        (col("d1") === 0L && col("d2") === 0L).as("paths_equal"))
  }

  /** IVF store MAINTENANCE (r7 verdict task 2): the vector twin of
    * [[MultimodalQueries.qVisidxCompaction]]. A 24/7 embedding ingest
    * appends one parquet layer per `cluster=` inverted list per wave
    * (`IvfStore.append`); this query builds that layered store (base
    * corpus + three appended waves, a build-once fixture), compacts it
    * with the pooled atomic-swap pass (`IvfStore.compact`), and probes the
    * compacted store against the in-memory search over the full corpus —
    * row-identical results
    * required (ids, cosines AND ranks). `rows_preserved` pins the exact
    * store row count pre/post (a pure probe would not see duplicated
    * vectors ranked past k), and `files_reduced` gates that maintenance
    * actually shrank the store.
    */
  private val qIvfidxCompaction: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cents = ivfCentroids(emb, dir)
    val layered = Fixtures.getOrBuild(s"ivflayers:$dir") { f =>
      graft.similarity.IvfStore.build(emb.filter(col("vec_id") < 250), f, cents)
      graft.similarity.IvfStore.append(
        emb.filter(col("vec_id") >= 250 && col("vec_id") < 300), f)
      graft.similarity.IvfStore.append(
        emb.filter(col("vec_id") >= 300 && col("vec_id") < 350), f)
      graft.similarity.IvfStore.append(emb.filter(col("vec_id") >= 350), f)
    }
    val idx = Fixtures.mutableCopy(layered)
    val rowsBefore = s.read.parquet(s"$idx/vectors").count()
    // leaf rewrites pooled — one shared pool over the cluster= leaves, the
    // exact-throttle discipline of the visual index's maintenance pass
    val st = graft.similarity.IvfStore.compact(s, idx, maxParallel = 8)
    val rowsAfter = s.read.parquet(s"$idx/vectors").count()
    val queries = emb.filter(col("vec_id") < 5)
    val store = graft.similarity.IvfStore.probe(queries, idx, k = 5, nprobe = 4)
    val mem = KMeansIvf.search(KMeansIvf.index(emb, cents), queries, cents,
      k = 5, nprobe = 4)
    val cols = Seq("query_id", "neighbor_id", "cos", "rk").map(col)
    val d1 = store.select(cols: _*).exceptAll(mem.select(cols: _*))
      .agg(count(lit(1)).as("d1"))
    val d2 = mem.select(cols: _*).exceptAll(store.select(cols: _*))
      .agg(count(lit(1)).as("d2"))
    queries.agg(countDistinct(col("vec_id")).as("n_queries"))
      .crossJoin(broadcast(d1)).crossJoin(broadcast(d2))
      .select(col("n_queries"),
        (col("d1") === 0L && col("d2") === 0L).as("paths_equal"))
      .withColumn("files_reduced", lit(st.filesAfter < st.filesBefore))
      .withColumn("rows_preserved", lit(rowsBefore == rowsAfter))
  }

  private val ivfidxCompactionSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS paths_equal,
      |  TRUE AS files_reduced, TRUE AS rows_preserved
      |FROM embeddings WHERE vec_id < 5""".stripMargin

  /** PQ-ADC ANN (similarity.ProductQuantizer): 8×16 codebooks (≈32×
    * compression of the float index), ADC candidate ranking by table
    * lookups, exact cosine re-rank of the survivors. Same recall contract
    * as `q_ann_ivf`; re-rank makes observed recall ≈ 1.
    */
  private val qAnnPq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val model = pqModel(emb, embDim(emb, dir), dir)
    val queries = emb.filter(col("vec_id") < 5)
    val pq = ProductQuantizer.searchADC(
      ProductQuantizer.encode(emb, model), queries, emb, model, k = 5)
    recallCheck(queries, pq, Similarity.bruteForceTopK(emb, queries, k = 5),
      bound = 0.6)
  }

  private val annPqSql = annIvfSql

  /** Full IVF-PQ composition: coarse-cluster pruning (nprobe of 16 lists) ×
    * PQ-ADC ranking × exact re-rank — the billion-scale index, recall-
    * checked against exact brute force like its component queries.
    */
  private val qAnnIvfPq: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = ivfCentroids(emb, dir)
    val model = pqModel(emb, embDim(emb, dir), dir)
    val encodedIndexed = ProductQuantizer.encode(emb, model)
      .join(KMeansIvf.index(emb, centroids).select("vec_id", "cluster"), "vec_id")
    val queries = emb.filter(col("vec_id") < 5)
    val ivfpq = ProductQuantizer.searchIvfPq(
      encodedIndexed, queries, emb, centroids, model, k = 5, nprobe = 8)
    recallCheck(queries, ivfpq, Similarity.bruteForceTopK(emb, queries, k = 5),
      bound = 0.2)
  }

  private val annIvfPqSql = annIvfSql

  /** Whole-corpus approximate kNN graph (similarity.KnnGraph, NN-Descent
    * style): LSH-bucket + hash-ring init, 4 neighbor-of-neighbor rounds at
    * K=10, recall@5 of the 25 lowest-id vectors checked in-engine against
    * exact brute force (observed 0.80 at sf0.01; bound 0.5). Same
    * sketch-oracle contract as the other ANN queries.
    */
  /** The kNN graph is a build-once artifact like the quantizer fits: one
    * build per dataset shared by the graph query and graph-ANN serving
    * (the checkpointed result is deterministic, so sharing can't change
    * results).
    */
  private def knnGraphShared(emb: DataFrame, dir: String): DataFrame =
    ModelCache.getOrFit(s"knngraph:k10:r4:$dir") {
      similarity.KnnGraph.build(emb, k = 10, rounds = 4)
    }

  private val qKnnGraph: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val graph = knnGraphShared(emb, dir)
    val queries = emb.filter(col("vec_id") < 25)
    val approx = graph.filter(col("src") < 25)
      .select(col("src").as("query_id"), col("dst").as("neighbor_id"))
    recallCheck(queries, approx,
      Similarity.bruteForceTopK(emb, queries, k = 5), bound = 0.5)
  }

  private val knnGraphSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 25""".stripMargin

  /** HNSW-style serving over the shared kNN graph (similarity.GraphAnn):
    * LSH-bucket + fixed entry points, 3 synchronized beam-search hops at
    * beam 12, recall@5 of 25 query vectors checked in-engine against exact
    * brute force — same sketch-oracle contract as the other ANN queries.
    * Per-query work is beam×degree per hop regardless of corpus size.
    */
  private val qGraphAnn: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val graph = knnGraphShared(emb, dir)
    val queries = emb.filter(col("vec_id") < 25)
    val res = similarity.GraphAnn.search(graph, emb, queries,
      k = 5, beam = 12, hops = 3)
    recallCheck(queries, res.select(col("query_id"), col("neighbor_id")),
      Similarity.bruteForceTopK(emb, queries, k = 5), bound = 0.6)
  }

  private val graphAnnSql = knnGraphSql

  /** Hierarchical (HNSW-shape) graph ANN (similarity.HnswAnn): nested
    * 1-in-4 decimated layers, kNN graph per layer, search descends from
    * the sparsest layer — entries for each layer come from the layer
    * above, not LSH buckets. Same recall contract as `q_graph_ann`.
    */
  private val qAnnHnsw: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    // bottom layer = the maintained corpus kNN graph (shared fixture);
    // upper layers cost a geometric fraction of it. The whole hierarchy is
    // a build-once artifact (ModelCache, like the ANN quantizer fits).
    val layers = ModelCache.getOrFit(s"hnsw:l3:k8:r2:$dir") {
      similarity.HnswAnn.buildAbove(emb, knnGraphShared(emb, dir),
        layers = 3, k = 8, rounds = 2)
        .map { case (g, c) => (g.localCheckpoint(), c.localCheckpoint()) }
    }
    val queries = emb.filter(col("vec_id") < 25)
    val res = similarity.HnswAnn.search(layers, queries,
      k = 5, beam = 12, hopsPerLayer = 2)
    recallCheck(queries, res.select(col("query_id"), col("neighbor_id")),
      Similarity.bruteForceTopK(emb, queries, k = 5), bound = 0.6)
  }

  private val annHnswSql = knnGraphSql

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_ivf_store", Batch, qIvfStore, ivfStoreSql),
    QuerySpec("q_ivf_append", Batch, qIvfAppend, ivfStoreSql),
    QuerySpec("q_ivfidx_compaction", Batch, qIvfidxCompaction, ivfidxCompactionSql),
    QuerySpec("q_avro_roundtrip", Batch, qAvroRoundtrip, avroRoundtripSql),
    QuerySpec("q_proto_roundtrip", Batch, qProtoRoundtrip, protoRoundtripSql),
    QuerySpec("q_proto_vectors", Batch, qProtoVectors, protoVectorsSql),
    QuerySpec("q_stream_proto", Drain, qStreamProto, streamProtoSql),
    QuerySpec("q_dict_encode", Batch, qDictEncode, dictEncodeSql),
    QuerySpec("q_replica_reconcile", Batch, qReplicaReconcile, replicaReconcileSql),
    QuerySpec("q_sql_surface", Batch, qSqlSurface, sqlSurfaceSqlGen),
    QuerySpec("q_kcore", Batch, qKCore, kcoreSqlGen),
    QuerySpec("q_skew_stats", Batch, qSkewStats, skewStatsSql),
    QuerySpec("q_aqe_skew_join", Batch, qAqeSkewJoin, aqeSkewJoinSql),
    QuerySpec("q_join_cardinality", Batch, qJoinCardinality, joinCardinalitySql),
    QuerySpec("q_shortest_paths", Batch, qShortestPaths, shortestPathsSqlGen),
    QuerySpec("q_stream_classify", Drain, qStreamClassify, streamClassifySqlGen),
    QuerySpec("q_pit_join", Batch, qPitJoin, pitJoinSql),
    QuerySpec("q_incremental_corpus", Batch, qIncrementalCorpus, incrementalCorpusSql),
    QuerySpec("q_ann_hnsw", Batch, qAnnHnsw, annHnswSql),
    QuerySpec("q_cosine_topk", Batch, qCosineTopk, cosineTopkSql),
    QuerySpec("q_embedding_neardups", Batch, qEmbeddingNearDups, embeddingNearDupsSql),
    QuerySpec("q_cosine_rewrite", Batch, qCosineRewrite, embeddingNearDupsSql),
    QuerySpec("q_rand_projection", Batch, qRandProjection, randProjectionSql),
    QuerySpec("q_pca", Batch, qPca, pcaSql),
    QuerySpec("q_ann_lsh", Batch, qAnnLsh, annLshSql),
    QuerySpec("q_ann_ivf", Batch, qAnnIvf, annIvfSql),
    QuerySpec("q_ann_ivf_probes", Batch, qAnnIvfProbes, annIvfProbesSql),
    QuerySpec("q_ann_pq", Batch, qAnnPq, annPqSql),
    QuerySpec("q_ann_ivf_pq", Batch, qAnnIvfPq, annIvfPqSql),
    QuerySpec("q_knn_graph", Batch, qKnnGraph, knnGraphSql),
    QuerySpec("q_graph_ann", Batch, qGraphAnn, graphAnnSql),
    QuerySpec("q_sq_cosine", Batch, qSqCosine, sqCosineSql))
}
