package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal

import CatalogCommon._
import Kind.{Batch, Drain}

/** Multimodal payloads: image, audio and video decoding, perceptual
  * hashes, near-duplicate media, tar shards and the visual index.
  */
private[graft] object MultimodalQueries {

  // ------------------------------------------------------------ multimodal

  private val qMultimodalMeta: Q = (s, dir) =>
    Multimodal.payloadMeta(Multimodal.withPayload(Tables.documents(s, dir)))
      .orderBy("doc_id")

  private val multimodalMetaSql =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  sha256(text) AS sha
      |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL payload decode ([[graft.multimodal.PixelCodec]]): one payload per
    * document — a valid PNG (deflated IDAT, per-scanline filter `(id+y)%5`
    * so all five unfilter branches fire), 24-bit BMP (bottom-up padded BGR
    * rows) or 16-bit PCM WAV — whose every pixel/sample value is an integer
    * formula of (doc_id, position). The query decodes the payloads with the
    * real codecs and emits integer statistics (count/sum/min/max and the
    * position-weighted sum Σ(i+1)·vᵢ); the oracle recomputes the formulas
    * directly. The hash matches only if decode ∘ encode is the identity on
    * every value of every payload — inflate, unfilter, row un-padding,
    * BGR→RGB, PCM sign-extension all proven bit-for-bit.
    */
  private val qMultimodalFeatures: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.PixelCodec
    val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 4 + ((id * 7) % 29).toInt
          val h = 4 + ((id * 13) % 23).toInt
          val bytes = (id % 3) match {
            case 0 =>
              val pix = Array.tabulate(w * h * 3)(i => ((id * 31 + i * 7) % 256).toByte)
              PixelCodec.encodePng(w, h, 3, pix, y => ((id + y) % 5).toInt)
            case 1 =>
              val pix = Array.tabulate(w * h * 3)(i => ((id * 31 + i * 7) % 256).toByte)
              PixelCodec.encodeBmp(w, h, pix)
            case _ =>
              val n = 64 + (id % 192).toInt
              val samples = Array.tabulate(n)(i => ((id * 31 + i * 7) % 65536).toInt - 32768)
              PixelCodec.encodeWav(8000 + (id % 8).toInt * 4000, 1, samples)
          }
          (id, bytes)
        }
      }.toDF("doc_id", "payload")
    Multimodal.decodeStats(payloads).orderBy("doc_id")
  }

  private val multimodalFeaturesSql =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS kind,
      |    CASE WHEN doc_id % 3 = 2 THEN 8000 + (doc_id % 8) * 4000
      |         ELSE 4 + (doc_id * 7) % 29 END AS width,
      |    CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 4 + (doc_id * 13) % 23 END AS height,
      |    CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 3 END AS channels,
      |    CASE WHEN doc_id % 3 = 2 THEN 64 + doc_id % 192
      |         ELSE (4 + (doc_id * 7) % 29) * (4 + (doc_id * 13) % 23) * 3 END AS n
      |  FROM documents
      |), v AS (
      |  SELECT doc_id, kind, width, height, channels, n,
      |    list_transform(generate_series(0, n - 1),
      |      i -> CASE WHEN kind = 'wav'
      |            THEN (doc_id * 31 + i * 7) % 65536 - 32768
      |            ELSE (doc_id * 31 + i * 7) % 256 END) AS vals
      |  FROM p
      |)
      |SELECT doc_id, kind, CAST(width AS INT) AS width,
      |  CAST(height AS INT) AS height, CAST(channels AS INT) AS channels,
      |  CAST(n AS BIGINT) AS n_vals,
      |  CAST(list_sum(vals) AS BIGINT) AS v_sum,
      |  CAST(list_min(vals) AS BIGINT) AS v_min,
      |  CAST(list_max(vals) AS BIGINT) AS v_max,
      |  CAST(list_sum(list_transform(generate_series(1, n), i -> i * vals[i])) AS BIGINT) AS v_wsum
      |FROM v ORDER BY doc_id""".stripMargin

  /** End-to-end pixel pipeline: encode a formula-pixel PNG per document,
    * [[Multimodal.resize]] it (real decode → nearest-neighbor resample →
    * PNG re-encode), decode the RESULT again and emit integer stats. The
    * oracle replays the nearest-neighbor index map in closed form —
    * output (x,y,c) reads source ((x·w)//8, (y·h)//8, c) — so the hash
    * matches only if decode→scale→encode→decode agrees with the formula on
    * all 192 values per document. Two full codec round-trips per row, all
    * map-only.
    */
  private val qMediaResize: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.PixelCodec
    val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 4 + ((id * 7) % 29).toInt
          val h = 4 + ((id * 13) % 23).toInt
          val pix = Array.tabulate(w * h * 3)(i => ((id * 31 + i * 7) % 256).toByte)
          (id, PixelCodec.encodePng(w, h, 3, pix, y => ((id + y) % 5).toInt))
        }
      }.toDF("doc_id", "payload")
    val resized = Multimodal.resize(payloads, 8, 8).toDF()
      .select(col("docId").as("doc_id"), col("payload"))
    Multimodal.decodeStats(resized).orderBy("doc_id")
  }

  private val mediaResizeSql =
    """WITH p AS (
      |  SELECT doc_id, 4 + (doc_id * 7) % 29 AS w, 4 + (doc_id * 13) % 23 AS h
      |  FROM documents
      |), v AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 191), i ->
      |      (doc_id * 31 +
      |        ((((i // 24) * h // 8) * w + (((i % 24) // 3) * w // 8)) * 3
      |          + i % 3) * 7) % 256) AS vals
      |  FROM p
      |)
      |SELECT doc_id, 'png' AS kind, 8 AS width, 8 AS height, 3 AS channels,
      |  CAST(192 AS BIGINT) AS n_vals,
      |  CAST(list_sum(vals) AS BIGINT) AS v_sum,
      |  CAST(list_min(vals) AS BIGINT) AS v_min,
      |  CAST(list_max(vals) AS BIGINT) AS v_max,
      |  CAST(list_sum(list_transform(generate_series(1, 192), i -> i * vals[i])) AS BIGINT) AS v_wsum
      |FROM v ORDER BY doc_id""".stripMargin

  /** Frame sampling through the batch demux plumbing: every 2nd 256-byte
    * "frame" becomes a row (per-partition flatMap — a 2-hour video never
    * materializes all frames at once). The oracle reproduces the exact
    * accounting: sampled = ceil(ceil(bytes/256) / 2) per doc, plus the
    * first-frame byte length.
    */
  private val qMultimodalFrames: Q = (s, dir) =>
    Multimodal.sampleFrames(Multimodal.withPayload(Tables.documents(s, dir)), stride = 2)
      .toDF()
      .groupBy(col("docId").as("doc_id"))
      .agg(count(lit(1)).as("n_sampled"),
        max(when(col("frameIdx") === 0, length(col("payload")))).as("first_frame_bytes"))
      .select(col("doc_id"), col("n_sampled"),
        col("first_frame_bytes").cast("long").as("first_frame_bytes"))
      .orderBy("doc_id")

  private val multimodalFramesSql =
    """SELECT doc_id,
      |  CAST(ceil(ceil(octet_length(encode(text)) / 256.0) / 2.0) AS BIGINT) AS n_sampled,
      |  CAST(LEAST(octet_length(encode(text)), 256) AS BIGINT) AS first_frame_bytes
      |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin

  /** REAL animated-GIF frame demux end-to-end: per document a valid GIF89a
    * — 256-entry palette and 1 + id%6 frames of index pixels, all integer
    * formulas of (doc_id, frame, position), odd frames written INTERLACED
    * — sampled every 2nd frame by [[Multimodal.sampleFrames]] (per-frame
    * LZW decompression, four-pass de-interlace, palette resolution, PNG
    * re-encode), then each sampled frame re-decoded by
    * [[Multimodal.decodeStats]] into integer value statistics. The oracle
    * recomputes palette∘index formulas directly — the hash matches only if
    * GIF-LZW decode ∘ encode is the identity on every frame, interlaced
    * rows land exactly where GIF89a appendix E says, and the PNG hop
    * preserves every value (v_wsum is position-weighted, so one swapped
    * row breaks it). North-star addition; the reference has no binary
    * surface.
    */
  private val qGifFrames: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.PixelCodec
    val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val palette = Array.tabulate(768) { j =>
          val e = j / 3
          ((j % 3) match {
            case 0 => (e * 37 + 1) % 256
            case 1 => (e * 73 + 5) % 256
            case _ => (e * 101 + 9) % 256
          }).toByte
        }
        ids.map { id =>
          val w = 3 + ((id * 5) % 13).toInt
          val h = 3 + ((id * 11) % 11).toInt
          val nf = 1 + (id % 6).toInt
          val frames = (0 until nf).map { f =>
            Array.tabulate(w * h)(p =>
              ((id * 17 + f * 29 + p * 3) % 256).toByte)
          }
          (id, PixelCodec.encodeGif(w, h, palette, frames,
            interlaceFor = f => f % 2 == 1))
        }
      }.toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(payloads, stride = 2)
    Multimodal.decodeStats(
        frames.select((col("docId") * 100 + col("frameIdx")).as("doc_id"),
          col("payload")))
      .select(expr("CAST(doc_id DIV 100 AS BIGINT)").as("doc_id"),
        expr("CAST(doc_id % 100 AS INT)").as("frame_idx"),
        col("kind"), col("width"), col("height"), col("channels"),
        col("n_vals"), col("v_sum"), col("v_min"), col("v_max"),
        col("v_wsum"))
      .orderBy("doc_id", "frame_idx")
  }

  private val gifFramesSql =
    """WITH p AS (
      |  SELECT doc_id, 3 + (doc_id*5)%13 AS w, 3 + (doc_id*11)%11 AS h,
      |         1 + doc_id%6 AS nf
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS fi FROM p
      |), v AS (
      |  SELECT doc_id, fi, w, h,
      |    list_transform(generate_series(0, w*h*3 - 1), i ->
      |      CASE i % 3
      |        WHEN 0 THEN (((doc_id*17 + fi*29 + (i//3)*3) % 256) * 37 + 1) % 256
      |        WHEN 1 THEN (((doc_id*17 + fi*29 + (i//3)*3) % 256) * 73 + 5) % 256
      |        ELSE (((doc_id*17 + fi*29 + (i//3)*3) % 256) * 101 + 9) % 256
      |      END) AS vals
      |  FROM f WHERE fi % 2 = 0
      |)
      |SELECT doc_id, CAST(fi AS INT) AS frame_idx, 'png' AS kind,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height, 3 AS channels,
      |  CAST(w*h*3 AS BIGINT) AS n_vals,
      |  CAST(list_sum(vals) AS BIGINT) AS v_sum,
      |  CAST(list_min(vals) AS BIGINT) AS v_min,
      |  CAST(list_max(vals) AS BIGINT) AS v_max,
      |  CAST(list_sum(list_transform(generate_series(1, w*h*3), i -> i * vals[i])) AS BIGINT) AS v_wsum
      |FROM v ORDER BY doc_id, frame_idx""".stripMargin

  /** Integer-exact acoustic features over REAL WAV PCM decode
    * ([[Multimodal.audioStats]]): per document a 16-bit mono WAV whose
    * every sample is an integer formula of (doc_id, position); the query
    * decodes with the real RIFF codec and emits energy Σs², peak |s|,
    * strict zero-crossing count, and raw autocorrelation Σ s·s₊ₗ at lags
    * 1/2/4 — all exact longs, the periodicity/voicing profile an audio
    * quality filter keys on. The oracle recomputes every statistic from
    * the sample formula. North-star addition; the reference has no binary
    * surface.
    */
  private val qAudioFeatures: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.PixelCodec
    val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 64 + (id % 192).toInt
          val samples = Array.tabulate(n)(i =>
            ((id * 37 + i * 11) % 65536).toInt - 32768)
          (id, PixelCodec.encodeWav(8000 + (id % 8).toInt * 4000, 1, samples))
        }
      }.toDF("doc_id", "payload")
    Multimodal.audioStats(payloads).orderBy("doc_id")
  }

  private val audioFeaturesSql =
    """WITH p AS (
      |  SELECT doc_id, CAST(8000 + (doc_id % 8) * 4000 AS INT) AS sample_rate,
      |         64 + doc_id % 192 AS n
      |  FROM documents
      |), v AS (
      |  SELECT doc_id, sample_rate, n,
      |    list_transform(generate_series(0, n - 1), i ->
      |      (doc_id*37 + i*11) % 65536 - 32768) AS s
      |  FROM p
      |)
      |SELECT doc_id, sample_rate, CAST(n AS BIGINT) AS n_samples,
      |  CAST(list_sum(list_transform(s, x -> x*x)) AS BIGINT) AS energy,
      |  CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
      |  CAST(list_sum(list_transform(generate_series(2, n), i ->
      |    CASE WHEN s[i-1] * s[i] < 0 THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings,
      |  CAST(list_sum(list_transform(generate_series(2, n), i -> s[i-1] * s[i])) AS BIGINT) AS ac_lag1,
      |  CAST(list_sum(list_transform(generate_series(3, n), i -> s[i-2] * s[i])) AS BIGINT) AS ac_lag2,
      |  CAST(list_sum(list_transform(generate_series(5, n), i -> s[i-4] * s[i])) AS BIGINT) AS ac_lag4
      |FROM v ORDER BY doc_id""".stripMargin

  /** Cross-video near-dup detection by keyframe overlap
    * ([[Multimodal.keyframeOverlap]]): per document an animated GIF whose
    * frame content is a formula of a SMALL key space (dims × 64 base
    * offsets), so distinct documents share frames; every frame is demuxed
    * (real GIF-LZW decode), fingerprinted (SHA-256 of the canonical PNG
    * re-encode), and documents pair via an equality join on the
    * fingerprint — the banded-join shape, never all-pairs, no pixels in
    * the pair shuffle. The oracle derives frame equality from the
    * generation formulas directly ((w, h, base) key), so the hash matches
    * only if demux + canonical re-encode map equal frames — and ONLY equal
    * frames — to equal fingerprints. North-star addition; the reference
    * has no binary surface.
    */
  private val qVideoNeardup: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.PixelCodec
    val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val palette = Array.tabulate(768) { j =>
          val e = j / 3
          ((j % 3) match {
            case 0 => (e * 37 + 1) % 256
            case 1 => (e * 73 + 5) % 256
            case _ => (e * 101 + 9) % 256
          }).toByte
        }
        ids.map { id =>
          val w = 3 + ((id * 5) % 5).toInt
          val h = 3 + ((id * 11) % 3).toInt
          val nf = 1 + (id % 4).toInt
          val frames = (0 until nf).map { f =>
            val base = ((id * 17 + f * 29) % 64).toInt
            Array.tabulate(w * h)(p => ((base + p * 3) % 256).toByte)
          }
          (id, PixelCodec.encodeGif(w, h, palette, frames))
        }
      }.toDF("doc_id", "payload")
    Multimodal.keyframeOverlap(Multimodal.sampleFrames(payloads, stride = 1))
      .orderBy("doc_a", "doc_b")
  }

  /** Perceptual image near-dup via dHash ([[Multimodal.dHash64]] +
    * [[graft.dedup.Dedup.hammingPairs]]): per document a real BMP whose
    * pixels come from a GROUP formula (docs in a group share dims and most
    * pixel values, with doc-specific perturbations at ~1/23 of positions),
    * decoded → integer-luma → 9×8 nearest grid → 64 adjacent-compare bits;
    * pairs within Hamming ≤ 3 via the quarter-blocking join (exact by
    * pigeonhole at that radius — the visual twin of `q_simhash_neardups`).
    * The oracle replays pixel formula → luma → floor resample → bits →
    * all-pairs Hamming in pure SQL, so the hash matches only if every
    * stage of the perceptual pipeline is bit-identical. North-star
    * addition; the reference has no binary surface.
    */
  /** The grouped-BMP payload fixture shared by the dHash queries: docs in
    * a group share dims and most pixels, with doc-specific perturbations.
    */
  private def imagePayloads(s: SparkSession, dir: String,
      partitions: Int = 0): DataFrame = {
    import s.implicits._
    import graft.multimodal.PixelCodec
    // when a caller needs a specific output layout, the shuffle happens
    // HERE, on bare 8-byte ids — synthesizing pixels first and then
    // repartitioning would shuffle the payload bytes themselves (measured
    // at sf1: ~1 GB moved for a 26 MB corpus), exactly the anti-pattern
    // the multimodal contract forbids
    val ids0 = Tables.documents(s, dir).select(col("doc_id")).as[Long]
    // image DIVERSITY scales with the corpus: ~12.5 docs per perceptual
    // group at any size (the text fixtures' fixed-planted-cluster rule).
    // A constant group count made dup clusters grow with the corpus and
    // emitted near-dup pairs grow QUADRATICALLY — measured at factor 30:
    // ×908 pair rows for ×30 traffic before this derivation, ~×30 after.
    // Exact integer arithmetic ((2n)/25, floor 40) so the oracle CTEs
    // replay it; at the sf0.01 correctness scale n=500 ⇒ exactly the
    // original 40 groups, every committed hash unchanged.
    val groups = math.max(ids0.count() * 2 / 25, 40L)
    val ids = if (partitions > 0) ids0.repartition(partitions) else ids0
    ids
      .mapPartitions { part =>
        part.map { id =>
          // group assignment is a multiplicative-hash range scale, NOT
          // `id % groups`: replica id lattices (base + k·10M) align with
          // any group count that divides the offset — measured at factor
          // 100, where groups=40000 | 10M put all 100 replicas of each
          // base in ONE group (clusters of 100, 24M pairs). The top bits
          // of id·φ32 walk a Weyl orbit across any arithmetic id
          // progression, so expected group population is n/groups for
          // structured and unstructured ids alike.
          // id·φ32 must not wrap Long: past 2^63/φ32 the Spark side would
          // silently produce a NEGATIVE g (wrapped pixel data) while the
          // DuckDB oracle errors loudly on the same overflow — fail just
          // as loudly here, in the executor, before any divergence.
          require(id >= 0 && id <= Long.MaxValue / 2654435761L,
            s"doc_id $id overflows the image-group hash (max ${Long.MaxValue / 2654435761L}); mod ids first")
          val g = ((id * 2654435761L % 4294967296L) * groups /
            4294967296L).toInt
          val w = 9 + (g * 3) % 8
          val h = 8 + (g * 5) % 7
          // group content must vary in the feature dHash actually SEES —
          // and non-degenerately. Three measured failure modes led here:
          // a g-dependent brightness offset cancels in adjacent-pixel
          // comparisons (×447 pair rows for ×30 docs); a g-dependent
          // linear stride enters differences only mod 256 and saturates
          // at 256 signature classes (×1028 pairs at ×100); and ANY
          // v(i)=f(A·g+B·i) construction is a ONE-parameter (phase)
          // family whose signatures collide at ~1e-4 — cross-group pairs
          // then dominate past factor 30. xor-then-multiply breaks the
          // translational structure (the mask g·A enters nonlinearly), so
          // per-group signatures are effectively independent: measured
          // 4000/4000 distinct group signatures, 10 collision pairs over
          // 8M, and total pair rows ×10.04 for ×10 docs.
          val mask = (g.toLong * 2654435761L) % 4294967296L
          val pix = Array.tabulate(w * h * 3) { i =>
            val base =
              (((mask ^ i.toLong) * 1597334677L % 4294967296L) >> 24).toInt
            val v = if ((i + id) % 23 == 0) (base + 1 + (id % 13).toInt) % 256
              else base
            v.toByte
          }
          (id, PixelCodec.encodeBmp(w, h, pix))
        }
      }.toDF("doc_id", "payload")
  }

  /** [[imagePayloads]] for the scale probes (ScaleBench's long-drain
    * visual-gate rehearsal shares the exact query fixture).
    */
  private[graft] def imagePayloadsFixture(s: SparkSession,
      dir: String): DataFrame = imagePayloads(s, dir)

  private val qImageNeardup: Q = (s, dir) =>
    graft.dedup.Dedup.hammingPairs(
        Multimodal.imageDhash(imagePayloads(s, dir)), maxHamming = 3)
      .orderBy("doc_a", "doc_b")

  /** The dHash bit-vector CTE chain shared by the image near-dup oracles:
    * pixel formula → integer luma → 9×8 floor resample → adjacent-compare
    * bits.
    */
  private val imageBitsCte =
    """gp AS (
      |  SELECT GREATEST(COUNT(*) * 2 // 25, 40) AS g0 FROM documents
      |), p0 AS (
      |  SELECT doc_id,
      |         (doc_id * 2654435761 % 4294967296) * g0 // 4294967296 AS g
      |  FROM documents CROSS JOIN gp
      |), p AS (
      |  SELECT doc_id, g,
      |         9 + (g * 3) % 8 AS w,
      |         8 + (g * 5) % 7 AS h
      |  FROM p0
      |), v AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, w*h*3 - 1), i ->
      |      CASE WHEN (i + doc_id) % 23 = 0
      |           THEN (xor(g*2654435761 % 4294967296, i) * 1597334677
      |                 % 4294967296 // 16777216 + 1 + doc_id % 13) % 256
      |           ELSE xor(g*2654435761 % 4294967296, i) * 1597334677
      |                % 4294967296 // 16777216
      |      END) AS vals
      |  FROM p
      |), gr AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 71), t ->
      |      (299 * vals[(((t // 9) * h // 8) * w + ((t % 9) * w // 9)) * 3 + 1]
      |       + 587 * vals[(((t // 9) * h // 8) * w + ((t % 9) * w // 9)) * 3 + 2]
      |       + 114 * vals[(((t // 9) * h // 8) * w + ((t % 9) * w // 9)) * 3 + 3]) // 1000) AS gray
      |  FROM v
      |), bits AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 63), b ->
      |      CASE WHEN gray[(b // 8) * 9 + (b % 8) + 1] > gray[(b // 8) * 9 + (b % 8) + 2]
      |           THEN 1 ELSE 0 END) AS bits
      |  FROM gr
      |)""".stripMargin

  private val imageNeardupSql =
    s"""WITH $imageBitsCte
       |SELECT * FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(list_sum(list_transform(generate_series(1, 64), i ->
       |      CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END)) AS INT) AS hamming
       |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin

  /** Perceptual pairs → visual duplicate GROUPS: the dHash Hamming pairs
    * of `q_image_neardup` fed through [[graft.operators.ConnectedComponents]],
    * each image labeled with its cluster's min doc_id — the image-side
    * twin of `q_dedup_clusters` (keep-one-per-visual-cluster is the
    * actual dedup decision). Oracle: the same pair SQL, transitive
    * closure by recursive CTE, min reachable id.
    */
  private val qImageClusters: Q = (s, dir) => {
    val pairs = qImageNeardup(s, dir)
    graft.operators.ConnectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").cast("long").as("doc_id"),
        col("component").cast("long").as("cluster_id"))
      .orderBy("doc_id")
  }

  private val imageClustersSql = {
    val pairs = imageNeardupSql.replace(" ORDER BY doc_a, doc_b", "")
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

  /** REAL baseline JPEG decode ([[graft.multimodal.JpegCodec]]): per
    * document a grayscale JPEG of FLAT 8×8 blocks (block value a formula
    * of (doc_id, block position)) — flat blocks quantize to a lone DC
    * coefficient, so the decoded pixel is EXACTLY
    * `clamp(floorDiv(round(8(v−128)/16)·16 + 4, 8) + 128)`, replayable in
    * integer SQL with no cosine. The payload still exercises the real
    * machinery: DHT canonical Huffman construction, entropy decode with
    * byte-unstuffing, DC prediction across blocks, dequant, de-zigzag,
    * IDCT, crop. The oracle recomputes the closed form per pixel
    * (position-weighted sum catches block misplacement). General AC
    * content is covered by `JpegCodecSpec` round-trips. North-star
    * addition; the reference has no binary surface.
    */
  private val qJpegDecode: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.JpegCodec
    val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 8 * (2 + ((id * 3) % 3).toInt)
          val h = 8 * (2 + ((id * 5) % 2).toInt)
          val pixels = Array.tabulate(w * h) { i =>
            val bx = (i % w) / 8; val by = (i / w) / 8
            ((id * 11 + bx * 29 + by * 53) % 256).toByte
          }
          (id, JpegCodec.encodeJpeg(w, h, 1, pixels))
        }
      }.toDF("doc_id", "payload")
    Multimodal.decodeStats(payloads).orderBy("doc_id")
  }

  private val jpegDecodeSql =
    """WITH p AS (
      |  SELECT doc_id, 8 * (2 + (doc_id*3)%3) AS w, 8 * (2 + (doc_id*5)%2) AS h
      |  FROM documents
      |), v AS (
      |  -- px = floorDiv(round(d/16)*16 + 4, 8) + 128 with d = 8(v-128);
      |  -- DuckDB // truncates toward zero, so divisions are offset into
      |  -- positive range (+1032 = 8·128+8, +4 after re-adding 128·8)
      |  -- where truncation IS floor — the identity is exact
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, w*h - 1), i ->
      |      LEAST(GREATEST(
      |        (((8*((doc_id*11 + ((i % w) // 8)*29 + ((i // w) // 8)*53) % 256) - 1024 + 1032) // 16) * 16 + 4) // 8,
      |        0), 255)) AS px
      |  FROM p
      |)
      |SELECT doc_id, 'jpeg' AS kind, CAST(w AS INT) AS width,
      |  CAST(h AS INT) AS height, 1 AS channels,
      |  CAST(w*h AS BIGINT) AS n_vals,
      |  CAST(list_sum(px) AS BIGINT) AS v_sum,
      |  CAST(list_min(px) AS BIGINT) AS v_min,
      |  CAST(list_max(px) AS BIGINT) AS v_max,
      |  CAST(list_sum(list_transform(generate_series(1, w*h), i -> i * px[i])) AS BIGINT) AS v_wsum
      |FROM v ORDER BY doc_id""".stripMargin

  /** 4:2:0 COLOR JPEG decode end-to-end: per document a chroma-subsampled
    * JPEG of flat 16×16 macroblocks (RGB a formula of (doc_id, macro)).
    * Flat macroblocks make every stage exactly replayable: the JFIF
    * transforms are ×10⁶ integer fixed point ([[JpegCodec.rgbToYcc]]/
    * `yccToRgb`), the 2×2 chroma downsample is lossless on flat regions,
    * and each block is DC-only — so the oracle computes decoded (r,g,b)
    * per macroblock in closed form and aggregates stats analytically
    * (Σposition over a macro is arithmetic-series algebra, no per-pixel
    * list). Exercises MCU interleaving (4 Y + Cb + Cr), cross-block DC
    * prediction, and replication upsampling. North-star addition; the
    * reference has no binary surface.
    */
  private val qJpegColor: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.JpegCodec
    val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 * (1 + ((id * 3) % 2).toInt)
          val h = 16 * (1 + ((id * 7) % 2).toInt)
          val pix = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            val mx = (p % w) / 16; val my = (p / w) / 16
            pix(p * 3) = ((id * 23 + mx * 97 + my * 31) % 256).toByte
            pix(p * 3 + 1) = ((id * 41 + mx * 53 + my * 71) % 256).toByte
            pix(p * 3 + 2) = ((id * 59 + mx * 29 + my * 13) % 256).toByte
            p += 1
          }
          (id, JpegCodec.encodeJpeg(w, h, 3, pix, subsample420 = true))
        }
      }.toDF("doc_id", "payload")
    Multimodal.decodeStats(payloads).orderBy("doc_id")
  }

  private val jpegColorSql =
    """WITH p AS (
      |  SELECT doc_id, 16*(1+(doc_id*3)%2) AS w, 16*(1+(doc_id*7)%2) AS h
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, w, h,
      |    unnest(generate_series(0, (w//16)*(h//16) - 1)) AS mi
      |  FROM p
      |), c0 AS (
      |  SELECT doc_id, w, h, mi % (w//16) AS mx, mi // (w//16) AS my,
      |    (doc_id*23 + (mi % (w//16))*97 + (mi // (w//16))*31) % 256 AS r0,
      |    (doc_id*41 + (mi % (w//16))*53 + (mi // (w//16))*71) % 256 AS g0,
      |    (doc_id*59 + (mi % (w//16))*29 + (mi // (w//16))*13) % 256 AS b0
      |  FROM f
      |), c1 AS (
      |  -- JFIF forward transform in x10^6 fixed point (offsets keep the
      |  -- truncating // in positive range where it IS floorDiv)
      |  SELECT doc_id, w, h, mx, my,
      |    LEAST(GREATEST((299000*r0 + 587000*g0 + 114000*b0 + 500000) // 1000000, 0), 255) AS y0,
      |    LEAST(GREATEST((-168736*r0 - 331264*g0 + 500000*b0 + 128500000) // 1000000, 0), 255) AS cb0,
      |    LEAST(GREATEST((500000*r0 - 418688*g0 - 81312*b0 + 128500000) // 1000000, 0), 255) AS cr0
      |  FROM c0
      |), c2 AS (
      |  -- the DC-only quantize/dequantize/IDCT closed form, per plane
      |  SELECT doc_id, w, h, mx, my,
      |    LEAST(GREATEST((((8*y0 + 8) // 16) * 16 + 4) // 8, 0), 255) AS y1,
      |    LEAST(GREATEST((((8*cb0 + 8) // 16) * 16 + 4) // 8, 0), 255) AS cb1,
      |    LEAST(GREATEST((((8*cr0 + 8) // 16) * 16 + 4) // 8, 0), 255) AS cr1
      |  FROM c1
      |), c3 AS (
      |  SELECT doc_id, w, h, mx, my,
      |    LEAST(GREATEST((1000000*y1 + 1402000*(cr1 - 128) + 180500000) // 1000000 - 180, 0), 255) AS r1,
      |    LEAST(GREATEST((1000000*y1 - 344136*(cb1 - 128) - 714136*(cr1 - 128) + 135500000) // 1000000 - 135, 0), 255) AS g1,
      |    LEAST(GREATEST((1000000*y1 + 1772000*(cb1 - 128) + 227500000) // 1000000 - 227, 0), 255) AS b1,
      |    16*w*(256*my + 120) + 16*(256*mx + 120) AS sp
      |  FROM c2
      |)
      |SELECT doc_id, 'jpeg' AS kind, CAST(w AS INT) AS width,
      |  CAST(h AS INT) AS height, 3 AS channels,
      |  CAST(w*h*3 AS BIGINT) AS n_vals,
      |  CAST(SUM(CAST(r1 + g1 + b1 AS BIGINT)) * 256 AS BIGINT) AS v_sum,
      |  CAST(MIN(LEAST(r1, g1, b1)) AS BIGINT) AS v_min,
      |  CAST(MAX(GREATEST(r1, g1, b1)) AS BIGINT) AS v_max,
      |  CAST(SUM(3 * CAST(r1 + g1 + b1 AS BIGINT) * sp
      |    + 256 * CAST(r1 + 2*g1 + 3*b1 AS BIGINT)) AS BIGINT) AS v_wsum
      |FROM c3 GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin

  /** WebDataset-style sharded tar export/import
    * ([[graft.sources.TarShards]]): every document becomes a SAMPLE of two
    * members — `<key>.txt` (the raw text bytes) and `<key>.bmp` (a real
    * BMP with formula pixels) — written as USTAR shards (key-hashed so a
    * sample's members share a shard, sorted within), read back through the
    * shard-granular binaryFile path, regrouped into samples, and verified
    * BOTH ways: text via md5 of the round-tripped bytes, image via real
    * BMP decode statistics. The oracle computes md5(text) and the pixel
    * formulas directly — matching only if tar headers, checksums, padding,
    * sample grouping and the BMP hop are all byte-exact. North-star
    * addition (reference extract surface is JDBC/CSV/ORC,
    * sqoop_etl.py:31-53).
    */
  private val qTarRoundtrip: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.PixelCodec
    val tmp = java.nio.file.Files.createTempDirectory("graft-tar").toString
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val txtMembers = docs.select(
      format_string("%010d", col("doc_id")).as("key"),
      lit("txt").as("ext"),
      encode(col("text"), "UTF-8").cast("binary").as("content"))
    val bmpMembers = docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 4 + ((id * 5) % 8).toInt
          val h = 4 + ((id * 9) % 6).toInt
          val pix = Array.tabulate(w * h * 3)(i => ((id * 29 + i * 13) % 256).toByte)
          (f"$id%010d", "bmp", PixelCodec.encodeBmp(w, h, pix))
        }
      }.toDF("key", "ext", "content")
    graft.sources.TarShards.write(txtMembers.unionByName(bmpMembers),
      s"$tmp/shards", numShards = 6)
    val samples = graft.sources.TarShards.readSamples(s, s"$tmp/shards")
    val stats = Multimodal.decodeStats(samples.select(
      col("key").cast("long").as("doc_id"),
      element_at(col("members"), "bmp").as("payload")))
    val texts = samples.select(col("key").cast("long").as("doc_id"),
      md5(element_at(col("members"), "txt")).as("text_md5"))
    texts.join(stats, "doc_id")
      .select(col("doc_id"), col("text_md5"), col("width"), col("height"),
        col("n_vals"), col("v_sum"), col("v_wsum"))
      .orderBy("doc_id")
  }

  private val tarRoundtripSql =
    """WITH p AS (
      |  SELECT doc_id, md5(text) AS text_md5,
      |         4 + (doc_id*5)%8 AS w, 4 + (doc_id*9)%6 AS h
      |  FROM documents
      |)
      |SELECT doc_id, text_md5, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(w*h*3 AS BIGINT) AS n_vals,
      |  CAST(list_sum(list_transform(generate_series(0, w*h*3 - 1), i ->
      |    (doc_id*29 + i*13) % 256)) AS BIGINT) AS v_sum,
      |  CAST(list_sum(list_transform(generate_series(1, w*h*3), i ->
      |    i * ((doc_id*29 + (i-1)*13) % 256))) AS BIGINT) AS v_wsum
      |FROM p ORDER BY doc_id""".stripMargin

  /** Shot-boundary detection ([[Multimodal.shotBoundaries]]): per document
    * an animated GIF built from SCENES — frames of one scene identical,
    * scene changes every 3 frames by formula — demuxed and segmented by
    * consecutive-frame pixel delta; the emitted shots carry exact
    * `entry_diff` (Σ|Δ| across palette-resolved channel values at the
    * cut). The oracle derives shot spans from the scene formula and
    * recomputes every boundary delta from the palette formulas — matching
    * only if the demux, palette resolution, and integer diffing are
    * bit-exact. North-star addition; the reference has no binary surface.
    */
  private val qShotBoundaries: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.PixelCodec
    val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val palette = Array.tabulate(768) { j =>
          val e = j / 3
          ((j % 3) match {
            case 0 => (e * 37 + 1) % 256
            case 1 => (e * 73 + 5) % 256
            case _ => (e * 101 + 9) % 256
          }).toByte
        }
        ids.map { id =>
          val w = 4 + ((id * 3) % 6).toInt
          val h = 4 + ((id * 7) % 5).toInt
          val nf = 4 + (id % 5).toInt
          val frames = (0 until nf).map { f =>
            val sc = (f + id) / 3
            Array.tabulate(w * h)(p => ((id * 13 + sc * 47 + p * 5) % 256).toByte)
          }
          (id, PixelCodec.encodeGif(w, h, palette, frames))
        }
      }.toDF("doc_id", "payload")
    Multimodal.shotBoundaries(payloads, threshold = 0L)
      .orderBy("doc_id", "shot_idx")
  }

  private val shotBoundariesSql =
    """WITH p AS (
      |  SELECT doc_id, 4 + (doc_id*3)%6 AS w, 4 + (doc_id*7)%5 AS h,
      |         4 + doc_id%5 AS nf
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS fi FROM p
      |), sc AS (
      |  SELECT doc_id, w, h, fi, (fi + doc_id) // 3 AS scene FROM f
      |), shots AS (
      |  SELECT doc_id, w, h, scene, MIN(fi) AS start_frame,
      |         MAX(fi) AS end_frame, COUNT(*) AS n_frames
      |  FROM sc GROUP BY doc_id, w, h, scene
      |)
      |SELECT doc_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame) - 1 AS INT) AS shot_idx,
      |  CAST(start_frame AS INT) AS start_frame,
      |  CAST(end_frame AS INT) AS end_frame,
      |  CAST(n_frames AS INT) AS n_frames,
      |  CAST(CASE WHEN start_frame = 0 THEN 0 ELSE list_sum(
      |    list_transform(generate_series(0, w*h - 1), p ->
      |      abs(((doc_id*13 + scene*47 + p*5) % 256 * 37 + 1) % 256
      |        - ((doc_id*13 + (scene-1)*47 + p*5) % 256 * 37 + 1) % 256)
      |      + abs(((doc_id*13 + scene*47 + p*5) % 256 * 73 + 5) % 256
      |        - ((doc_id*13 + (scene-1)*47 + p*5) % 256 * 73 + 5) % 256)
      |      + abs(((doc_id*13 + scene*47 + p*5) % 256 * 101 + 9) % 256
      |        - ((doc_id*13 + (scene-1)*47 + p*5) % 256 * 101 + 9) % 256)))
      |  END AS BIGINT) AS entry_diff
      |FROM shots ORDER BY doc_id, shot_idx""".stripMargin

  /** Image sharpness/brightness profile ([[Multimodal.imageSharpness]]):
    * per document a real BMP with formula pixels; the query decodes,
    * computes integer luma, and folds the discrete Laplacian over interior
    * pixels into exact sums — `lap_sq_sum` is the variance-of-Laplacian
    * focus measure a blur filter thresholds on. The oracle replays pixel
    * formula → luma → Laplacian index arithmetic in SQL lists. North-star
    * addition; the reference has no binary surface.
    */
  private val qImageSharpness: Q = (s, dir) => {
    import s.implicits._
    import graft.multimodal.PixelCodec
    val payloads = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 5 + ((id * 7) % 9).toInt
          val h = 5 + ((id * 3) % 8).toInt
          val pix = Array.tabulate(w * h * 3)(i => ((id * 19 + i * 23) % 256).toByte)
          (id, PixelCodec.encodeBmp(w, h, pix))
        }
      }.toDF("doc_id", "payload")
    Multimodal.imageSharpness(payloads).orderBy("doc_id")
  }

  private val imageSharpnessSql =
    """WITH p AS (
      |  SELECT doc_id, 5 + (doc_id*7)%9 AS w, 5 + (doc_id*3)%8 AS h
      |  FROM documents
      |), v AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, w*h*3 - 1), i ->
      |      (doc_id*19 + i*23) % 256) AS vals
      |  FROM p
      |), g AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, w*h - 1), px ->
      |      (299*vals[px*3+1] + 587*vals[px*3+2] + 114*vals[px*3+3]) // 1000) AS gray
      |  FROM v
      |), l AS (
      |  SELECT doc_id, w, h, gray,
      |    list_transform(generate_series(0, (w-2)*(h-2) - 1), t ->
      |      4*gray[(t // (w-2) + 1)*w + (t % (w-2) + 1) + 1]
      |      - gray[(t // (w-2) + 1)*w + (t % (w-2) + 1)]
      |      - gray[(t // (w-2) + 1)*w + (t % (w-2) + 1) + 2]
      |      - gray[(t // (w-2))*w + (t % (w-2) + 1) + 1]
      |      - gray[(t // (w-2) + 2)*w + (t % (w-2) + 1) + 1]) AS lap
      |  FROM g
      |)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(w*h AS BIGINT) AS n_pixels,
      |  CAST(list_sum(gray) AS BIGINT) AS gray_sum,
      |  CAST((w-2)*(h-2) AS BIGINT) AS n_interior,
      |  CAST(list_sum(lap) AS BIGINT) AS lap_sum,
      |  CAST(list_sum(list_transform(lap, x -> x*x)) AS BIGINT) AS lap_sq_sum
      |FROM l ORDER BY doc_id""".stripMargin

  /** Streaming VISUAL ingest gate ([[graft.multimodal.VisualIndex]] +
    * [[graft.streaming.DocsStream.visualGateDrain]]): a base corpus's
    * dHash quarters live in a partitioned signature index; image payloads
    * with doc_id ≥ 250 then ARRIVE as micro-batches, each decoded +
    * hashed once, probed against the index (only matching (q, qb)
    * partitions read) and against its own batch, then appended — the
    * perceptual twin of `q_stream_neardup`, same exactly-once pair
    * semantics and restart discipline. Because the emitted pair set is
    * micro-batch-boundary independent, ONE batch oracle replays the whole
    * drain: all Hamming ≤ 3 pairs whose later member is an arrival
    * (hi_id ≥ 250). North-star addition; the reference has no binary
    * surface.
    */
  private val qStreamVisualGate: Q = (s, dir) => {
    import graft.multimodal.VisualIndex
    val tmp = java.nio.file.Files.createTempDirectory("graft-vgate").toString
    val payloads = imagePayloads(s, dir)
    val baseIdx = Fixtures.getOrBuild(s"visidx:$dir") { f =>
      VisualIndex.build(
        Multimodal.imageDhash(payloads.filter(col("doc_id") < 250)), f)
    }
    // the arrival shards are a build-once fixture too (r6 verdict task 2):
    // synthesizing + landing the payloads is test-data generation, not gate
    // work — in production the stream's input directory is what ingest
    // already wrote. 6 shards via an ID-level shuffle inside imagePayloads
    // (payload bytes stay in their synthesis task; see imagePayloads note).
    // What stays timed is the DRAIN: per micro-batch decode+hash, pruned
    // index probe, pair sink, index append.
    val arrivals = Fixtures.getOrBuild(s"visarrivals:$dir") { f =>
      imagePayloads(s, dir, partitions = 6)
        .filter(col("doc_id") >= 250)
        .write.parquet(s"$f/in")
    }
    val idx = Fixtures.mutableCopy(baseIdx)
    withDrainParallelism(s, s"$arrivals/in") {
      graft.streaming.DocsStream.visualGateDrain(s, s"$arrivals/in", idx,
        s"$tmp/out", s"$tmp/ck", maxHamming = 3)
    }
    s.read.parquet(s"$tmp/out")
      .select(col("hi_id"), col("lo_id"), col("hamming"))
      .orderBy("hi_id", "lo_id")
  }

  private val streamVisualGateSql =
    s"""WITH $imageBitsCte
       |SELECT * FROM (
       |  SELECT b.doc_id AS hi_id, a.doc_id AS lo_id,
       |    CAST(list_sum(list_transform(generate_series(1, 64), i ->
       |      CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END)) AS INT) AS hamming
       |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
       |WHERE hamming <= 3 AND hi_id >= 250
       |ORDER BY hi_id, lo_id""".stripMargin

  /** Visual index MAINTENANCE (r6 verdict task 3): the perceptual twin of
    * [[TextQueries.qBandCompaction]]. A long-running visual ingest gate
    * appends one small parquet layer per (q, qb) partition per micro-batch
    * ([[VisualIndex.append]]); this query builds that layered store (base
    * corpus + three arrival waves, a build-once fixture), compacts it with
    * the NESTED atomic-swap pass (`Compaction.compactPartitions` recurses
    * q=…/qb=…), and probes the compacted index. The oracle recomputes the
    * expected pair set from the pixel formulas, so the hash matches only
    * if compaction lost nothing; `rows_preserved` additionally pins the
    * exact index row count pre/post (a pure pair probe would not see
    * DUPLICATED quarter rows — the distinct() hides them), and
    * `files_reduced` gates that maintenance actually shrank the store.
    */
  private[catalog] val qVisidxCompaction: Q = (s, dir) => {
    import graft.multimodal.VisualIndex
    val layered = Fixtures.getOrBuild(s"visidxlayers:$dir") { f =>
      val sigs = Multimodal.imageDhash(imagePayloads(s, dir))
      VisualIndex.build(sigs.filter(col("doc_id") < 250), f)
      VisualIndex.append(
        sigs.filter(col("doc_id") >= 250 && col("doc_id") < 300), f)
      VisualIndex.append(
        sigs.filter(col("doc_id") >= 300 && col("doc_id") < 350), f)
      VisualIndex.append(
        sigs.filter(col("doc_id") >= 350 && col("doc_id") < 400), f)
    }
    val idx = Fixtures.mutableCopy(layered)
    val rowsBefore = graft.sources.Listing.read(s, idx).count()
    // r12: the all-small-leaf case fuses into ONE distributed rewrite job
    // + per-leaf atomic swaps (Compaction scaladoc); maxParallel only
    // throttles the >targetBytes fallback
    val st = graft.sources.Compaction.compactPartitions(s, idx,
      maxParallel = 8)
    val rowsAfter = graft.sources.Listing.read(s, idx).count()
    val probes = Multimodal.imageDhash(
      imagePayloads(s, dir).filter(col("doc_id") >= 400))
    VisualIndex.probe(probes, s, idx, maxHamming = 3)
      .agg(count(lit(1)).as("n_pairs"),
        expr("bit_xor(new_id * 1000000 + indexed_id)").as("pair_xor"))
      .withColumn("files_reduced", lit(st.filesAfter < st.filesBefore))
      .withColumn("rows_preserved", lit(rowsBefore == rowsAfter))
  }

  private val visidxCompactionSql =
    s"""WITH $imageBitsCte
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(bit_xor(new_id * 1000000 + indexed_id) AS BIGINT) AS pair_xor,
       |  TRUE AS files_reduced, TRUE AS rows_preserved
       |FROM (
       |  SELECT b.doc_id AS new_id, a.doc_id AS indexed_id,
       |    list_sum(list_transform(generate_series(1, 64), i ->
       |      CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END)) AS hamming
       |  FROM bits a JOIN bits b ON a.doc_id < 400 AND b.doc_id >= 400)
       |WHERE hamming <= 3""".stripMargin

  /** Silence-aware audio segmentation ([[Multimodal.audioSegments]]): per
    * document a WAV alternating formula-quiet and formula-loud 32-sample
    * blocks; the query decodes PCM, computes per-block energy Σs², and
    * emits one row per contiguous run of speech blocks (gaps-and-islands
    * in the codec task, map-only). The oracle replays sample formula →
    * block energies → island grouping (ROW_NUMBER difference) in SQL —
    * integer-exact bounds and energies. North-star addition; the
    * reference has no binary surface.
    */
  /** The quiet/loud block WAV fixture shared by the audio queries. */
  private def audioSegPayloads(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.PixelCodec
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 32 * (8 + (id % 16).toInt)
          val samples = Array.tabulate(n) { i =>
            if (((i / 32) + id) % 3 == 0) ((id * 7 + i * 13) % 129).toInt - 64
            else ((id * 31 + i * 17) % 56000).toInt - 28000
          }
          (id, PixelCodec.encodeWav(16000, 1, samples))
        }
      }.toDF("doc_id", "payload")
  }

  private val qAudioSegments: Q = (s, dir) =>
    Multimodal.audioSegments(audioSegPayloads(s, dir),
        blockLen = 32, energyThreshold = 1000000L)
      .orderBy("doc_id", "seg_idx")

  /** Cross-modal ALIGNMENT: synthetic caption events (block positions, a
    * formula of (doc_id, caption)) joined to the speech segments decoded
    * from the SAME document's audio — the transcript-to-utterance
    * containment join an A/V training pipeline runs (equi on doc_id +
    * range on block position, so the shuffle is doc-keyed, never
    * all-pairs). Left join keeps silent segments with zero captions. The
    * oracle rebuilds segments from the sample formulas and replays the
    * containment join. North-star addition; the reference has no binary
    * surface.
    */
  private val qAvAlignment: Q = (s, dir) => {
    val segs = Multimodal.audioSegments(audioSegPayloads(s, dir),
      blockLen = 32, energyThreshold = 1000000L)
    val caps = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("explode(sequence(0, 2 + CAST(doc_id % 5 AS INT)))").as("c"))
      .select(col("doc_id"), col("c"),
        expr("CAST((doc_id*3 + c*7) % (8 + doc_id % 16) AS INT)").as("pos"))
    segs.as("s")
      .join(caps.as("c"),
        col("s.doc_id") === col("c.doc_id") &&
          col("c.pos").between(col("s.start_block"), col("s.end_block")),
        "left")
      .groupBy(col("s.doc_id").as("doc_id"), col("s.seg_idx").as("seg_idx"),
        col("s.start_block").as("start_block"),
        col("s.end_block").as("end_block"))
      .agg(count(col("c.pos")).as("n_caps"))
      .orderBy("doc_id", "seg_idx")
  }

  private val avAlignmentSql =
    """WITH p AS (
      |  SELECT doc_id, 32 * (8 + doc_id % 16) AS n FROM documents
      |), s AS (
      |  SELECT doc_id, n,
      |    list_transform(generate_series(0, n - 1), i ->
      |      CASE WHEN ((i // 32) + doc_id) % 3 = 0
      |           THEN (doc_id*7 + i*13) % 129 - 64
      |           ELSE (doc_id*31 + i*17) % 56000 - 28000 END) AS smp
      |  FROM p
      |), b AS (
      |  SELECT doc_id, smp, unnest(generate_series(0, n // 32 - 1)) AS blk FROM s
      |), e AS (
      |  SELECT doc_id, blk,
      |    CAST(list_sum(list_transform(generate_series(1, 32), j ->
      |      smp[blk*32 + j] * smp[blk*32 + j])) AS BIGINT) AS energy
      |  FROM b
      |), g AS (
      |  SELECT doc_id, blk,
      |    blk - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY blk) AS grp
      |  FROM e WHERE energy >= 1000000
      |), seg AS (
      |  SELECT doc_id, MIN(blk) AS start_block, MAX(blk) AS end_block,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY MIN(blk)) - 1 AS seg_idx
      |  FROM g GROUP BY doc_id, grp
      |), caps AS (
      |  SELECT doc_id, (doc_id*3 + c*7) % (8 + doc_id % 16) AS pos
      |  FROM (SELECT doc_id, unnest(generate_series(0, 2 + doc_id % 5)) AS c
      |        FROM documents)
      |)
      |SELECT s.doc_id AS doc_id, CAST(s.seg_idx AS INT) AS seg_idx,
      |  CAST(s.start_block AS INT) AS start_block,
      |  CAST(s.end_block AS INT) AS end_block,
      |  CAST(COUNT(c.pos) AS BIGINT) AS n_caps
      |FROM seg s LEFT JOIN caps c
      |  ON s.doc_id = c.doc_id AND c.pos BETWEEN s.start_block AND s.end_block
      |GROUP BY s.doc_id, s.seg_idx, s.start_block, s.end_block
      |ORDER BY s.doc_id, seg_idx""".stripMargin

  private val audioSegmentsSql =
    """WITH p AS (
      |  SELECT doc_id, 32 * (8 + doc_id % 16) AS n FROM documents
      |), s AS (
      |  SELECT doc_id, n,
      |    list_transform(generate_series(0, n - 1), i ->
      |      CASE WHEN ((i // 32) + doc_id) % 3 = 0
      |           THEN (doc_id*7 + i*13) % 129 - 64
      |           ELSE (doc_id*31 + i*17) % 56000 - 28000 END) AS smp
      |  FROM p
      |), b AS (
      |  SELECT doc_id, smp, unnest(generate_series(0, n // 32 - 1)) AS blk FROM s
      |), e AS (
      |  SELECT doc_id, blk,
      |    CAST(list_sum(list_transform(generate_series(1, 32), j ->
      |      smp[blk*32 + j] * smp[blk*32 + j])) AS BIGINT) AS energy
      |  FROM b
      |), g AS (
      |  SELECT doc_id, blk, energy,
      |    blk - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY blk) AS grp
      |  FROM e WHERE energy >= 1000000
      |), seg AS (
      |  SELECT doc_id, MIN(blk) AS start_block, MAX(blk) AS end_block,
      |    COUNT(*) AS n_blocks, SUM(energy) AS seg_energy
      |  FROM g GROUP BY doc_id, grp
      |)
      |SELECT doc_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_block) - 1 AS INT) AS seg_idx,
      |  CAST(start_block AS INT) AS start_block,
      |  CAST(end_block AS INT) AS end_block,
      |  CAST(n_blocks AS INT) AS n_blocks,
      |  CAST(seg_energy AS BIGINT) AS seg_energy
      |FROM seg ORDER BY doc_id, seg_idx""".stripMargin

  /** The composed MULTIMODAL curation flow
    * ([[graft.pipeline.MultimodalPipeline]]): mixed payloads (even ids →
    * grouped BMPs, odd ids → quiet/loud WAVs) routed by decoded kind,
    * brightness-gated (images) / silence-gated (audio), surviving images
    * perceptually deduped (dHash → Hamming pairs → connected components →
    * keep cluster min), one accounting row per modality. The oracle
    * composes the proven CTE pieces — pixel/sample formulas, luma,
    * resample bits, all-pairs Hamming, recursive-CTE closure, block
    * energies — into the same end-to-end flow, the
    * `q_training_pipeline_v2` discipline applied to media. North-star
    * addition; the reference has no binary surface.
    */
  private val qMultimodalPipeline: Q = (s, dir) => {
    val payloads = imagePayloads(s, dir).filter(col("doc_id") % 2 === 0)
      .unionByName(audioSegPayloads(s, dir).filter(col("doc_id") % 2 === 1))
    graft.pipeline.MultimodalPipeline.curateSummary(payloads)
  }

  private val multimodalPipelineSql =
    """WITH RECURSIVE gp AS (
      |  SELECT GREATEST(COUNT(*) * 2 // 25, 40) AS g0 FROM documents
      |), imgp0 AS (
      |  SELECT doc_id,
      |         (doc_id * 2654435761 % 4294967296) * g0 // 4294967296 AS g
      |  FROM documents CROSS JOIN gp WHERE doc_id % 2 = 0
      |), imgp AS (
      |  SELECT doc_id, g,
      |         9 + (g * 3) % 8 AS w,
      |         8 + (g * 5) % 7 AS h
      |  FROM imgp0
      |), imgv AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, w*h*3 - 1), i ->
      |      CASE WHEN (i + doc_id) % 23 = 0
      |           THEN (xor(g*2654435761 % 4294967296, i) * 1597334677
      |                 % 4294967296 // 16777216 + 1 + doc_id % 13) % 256
      |           ELSE xor(g*2654435761 % 4294967296, i) * 1597334677
      |                % 4294967296 // 16777216
      |      END) AS vals
      |  FROM imgp
      |), imggr AS (
      |  SELECT doc_id, w, h,
      |    list_transform(generate_series(0, w*h - 1), px ->
      |      (299*vals[px*3+1] + 587*vals[px*3+2] + 114*vals[px*3+3]) // 1000) AS gray
      |  FROM imgv
      |), imgq AS (
      |  SELECT doc_id, w, h, gray, list_sum(gray) AS gray_sum
      |  FROM imggr WHERE list_sum(gray) >= 127 * w * h
      |), bits AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 63), b ->
      |      CASE WHEN gray[((b // 8) * h // 8) * w + ((b % 8) * w // 9) + 1]
      |              > gray[((b // 8) * h // 8) * w + (((b % 8) + 1) * w // 9) + 1]
      |           THEN 1 ELSE 0 END) AS bits
      |  FROM imgq
      |), pairs AS (
      |  SELECT * FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      list_sum(list_transform(generate_series(1, 64), i ->
      |        CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END)) AS hamming
      |    FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
      |  WHERE hamming <= 3
      |), edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b AS u, doc_a AS v FROM pairs
      |), reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      |), dropd AS (
      |  SELECT u AS doc_id FROM reach GROUP BY u HAVING LEAST(u, MIN(v)) <> u
      |), imgrow AS (
      |  SELECT 'image' AS kind,
      |    CAST(COUNT(*) AS BIGINT) AS n_quality,
      |    CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |    CAST(SUM(CASE WHEN d.doc_id IS NULL THEN q.w*q.h ELSE 0 END) AS BIGINT) AS units_kept,
      |    CAST(SUM(CASE WHEN d.doc_id IS NULL THEN q.gray_sum ELSE 0 END) AS BIGINT) AS score_kept
      |  FROM imgq q LEFT JOIN dropd d ON q.doc_id = d.doc_id
      |), audp AS (
      |  SELECT doc_id, 32 * (8 + doc_id % 16) AS n
      |  FROM documents WHERE doc_id % 2 = 1
      |), auds AS (
      |  SELECT doc_id, n,
      |    list_transform(generate_series(0, n - 1), i ->
      |      CASE WHEN ((i // 32) + doc_id) % 3 = 0
      |           THEN (doc_id*7 + i*13) % 129 - 64
      |           ELSE (doc_id*31 + i*17) % 56000 - 28000 END) AS smp
      |  FROM audp
      |), audb AS (
      |  SELECT doc_id, smp, unnest(generate_series(0, n // 32 - 1)) AS blk FROM auds
      |), aude AS (
      |  SELECT doc_id, blk,
      |    CAST(list_sum(list_transform(generate_series(1, 32), j ->
      |      smp[blk*32 + j] * smp[blk*32 + j])) AS BIGINT) AS energy
      |  FROM audb
      |), audagg AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN energy >= 1000000 THEN 1 ELSE 0 END) AS speech_blocks,
      |    SUM(CASE WHEN energy >= 1000000 THEN energy ELSE 0 END) AS tot_energy
      |  FROM aude GROUP BY doc_id
      |), audrow AS (
      |  SELECT 'audio' AS kind,
      |    CAST(COUNT(*) AS BIGINT) AS n_quality,
      |    CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    CAST(SUM(speech_blocks) AS BIGINT) AS units_kept,
      |    CAST(SUM(tot_energy) AS BIGINT) AS score_kept
      |  FROM audagg WHERE speech_blocks >= 8
      |)
      |SELECT * FROM imgrow UNION ALL SELECT * FROM audrow ORDER BY kind""".stripMargin

  private val videoNeardupSql =
    """WITH p AS (
      |  SELECT doc_id, 3 + (doc_id*5)%5 AS w, 3 + (doc_id*11)%3 AS h,
      |         1 + doc_id%4 AS nf
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS fi FROM p
      |), k AS (
      |  SELECT DISTINCT doc_id, w, h, (doc_id*17 + fi*29) % 64 AS base FROM f
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(COUNT(*) AS BIGINT) AS shared_frames
      |FROM k a JOIN k b
      |  ON a.w = b.w AND a.h = b.h AND a.base = b.base AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_media_resize", Batch, qMediaResize, mediaResizeSql),
    QuerySpec("q_visidx_compaction", Batch, qVisidxCompaction, visidxCompactionSql),
    QuerySpec("q_multimodal_meta", Batch, qMultimodalMeta, multimodalMetaSql),
    QuerySpec("q_multimodal_features", Batch, qMultimodalFeatures, multimodalFeaturesSql),
    QuerySpec("q_multimodal_frames", Batch, qMultimodalFrames, multimodalFramesSql),
    QuerySpec("q_gif_frames", Batch, qGifFrames, gifFramesSql),
    QuerySpec("q_audio_features", Batch, qAudioFeatures, audioFeaturesSql),
    QuerySpec("q_video_neardup", Batch, qVideoNeardup, videoNeardupSql),
    QuerySpec("q_image_neardup", Batch, qImageNeardup, imageNeardupSql),
    QuerySpec("q_image_clusters", Batch, qImageClusters, imageClustersSql),
    QuerySpec("q_audio_segments", Batch, qAudioSegments, audioSegmentsSql),
    QuerySpec("q_shot_boundaries", Batch, qShotBoundaries, shotBoundariesSql),
    QuerySpec("q_image_sharpness", Batch, qImageSharpness, imageSharpnessSql),
    QuerySpec("q_tar_roundtrip", Batch, qTarRoundtrip, tarRoundtripSql),
    QuerySpec("q_jpeg_decode", Batch, qJpegDecode, jpegDecodeSql),
    QuerySpec("q_jpeg_color", Batch, qJpegColor, jpegColorSql),
    QuerySpec("q_stream_visual_gate", Drain, qStreamVisualGate, streamVisualGateSql),
    QuerySpec("q_multimodal_pipeline", Batch, qMultimodalPipeline, multimodalPipelineSql),
    QuerySpec("q_av_alignment", Batch, qAvAlignment, avAlignmentSql))
}
