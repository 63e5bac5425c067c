package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Ingest wave journal — the sidecar that lets steady-state manifest
  * maintenance run with ZERO full-lake listings. File-level ingest (the
  * `landWave` idiom: copy a wave's files into the lake dir) optionally
  * records each wave as `_ingest_log/wave-N`, a small text file listing
  * the paths it landed; the drain's manifest refresh then consumes waves
  * past its watermark (the manifest log's `watermark-N` entry,
  * [[ManifestLog.waveWatermark]]) instead of
  * recursively listing the lake — at 100 TB / millions of files that
  * listing is a multi-minute object-store LIST storm per drain, while the
  * journal read is O(new waves).
  *
  * Contract: the journal records APPENDS only (real lakes' ingest is
  * append-only; so is this repo's). Deletions and compactions are invisible
  * to it, which is why the drain falls back to the full recursive listing
  * (a) whenever no journal exists and (b) on every checkpoint-fold drain —
  * a periodic reconciliation that bounds journal drift to
  * `manifestCheckpointEvery` drains. Pruning stays a superset guarantee
  * throughout, so a stale manifest row is never a wrong answer, only a
  * wasted open.
  *
  * A wave file is staged dot-prefixed and published by one atomic rename;
  * the `_`-prefixed dir is invisible to Spark's partition discovery and to
  * [[StatsStore]]'s own listing.
  */
object IngestLog {

  private def dir(lakePath: String) = new Path(lakePath, "_ingest_log")

  private def fsOf(spark: SparkSession, lakePath: String) =
    new Path(lakePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One listing of the journal dir; None when no journal exists. */
  private def listing(fs: FileSystem, d: Path): Option[Seq[FileStatus]] =
    try Some(fs.listStatus(d).toSeq)
    catch { case _: java.io.FileNotFoundException => None }

  private val Wave = "wave-(\\d+)".r
  // a sequence claimed by an in-flight (or crashed) recorder; a claimed but
  // never published seq is a harmless gap in the wave numbering
  private val Claim = "\\.claim-(\\d+)".r

  private def seqs(l: Seq[FileStatus], kind: scala.util.matching.Regex): Seq[Long] =
    l.map(_.getPath.getName).collect { case kind(s) => s.toLong }.sorted

  /** One listing of the journal dir: its published wave seqs, ascending
    * (the last is the journal head), and the entries [[gc]] drops.
    */
  final class Journal private[IngestLog] (private[IngestLog] val entries: Seq[FileStatus]) {
    val waves: Seq[Long] = seqs(entries, Wave)
    def head: Long = waves.lastOption.getOrElse(-1L)
  }

  /** The journal from ONE listing; None when no journal exists. */
  def list(spark: SparkSession, lakePath: String): Option[Journal] =
    listing(fsOf(spark, lakePath), dir(lakePath)).map(new Journal(_))

  def waves(spark: SparkSession, lakePath: String): Seq[Long] =
    list(spark, lakePath).fold(Seq.empty[Long])(_.waves)

  /** Exclusive create of an empty marker. On a local filesystem this goes
    * through `File.createNewFile` (atomic per POSIX — Hadoop's
    * `create(path, overwrite=false)` is check-then-act there); on HDFS the
    * namenode makes `create(overwrite=false)` atomic. Object stores without
    * atomic create keep a small race window — documented on [[record]].
    */
  private def exclusiveCreate(fs: FileSystem, p: Path): Boolean = {
    val local = fs.getUri.getScheme == "file"
    if (local) new java.io.File(p.toUri.getPath).createNewFile()
    else
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
  }

  /** Record one landed wave; returns its seq. Call AFTER the wave's files
    * are fully in place — the journal must never advertise a file a reader
    * can't open. Idempotent retries are the caller's concern (re-recording
    * the same files in a new wave is harmless: the manifest diff treats
    * known files as an empty delta).
    *
    * Safe under CONCURRENT ingest processes (the r9 ADVICE hazard: the
    * read-max-then-rename seq assignment is not atomic, and the loser of a
    * race aborted an ingest whose files were already fully landed): the
    * content is staged under a process-unique name, the SEQUENCE is claimed
    * by an exclusive create of a `.claim-N` marker, and only the claim
    * winner renames to `wave-N` — so the publish rename never has a
    * competitor for its destination. Rename-loses-when-dest-exists was the
    * r10 protocol and is NOT portable (r10 ADVICE: Hadoop's
    * LocalFileSystem rename silently REPLACES an existing file — POSIX
    * semantics — so two racers could both "win" and one wave's file list
    * was silently lost until the next reconciliation). The claim create is
    * atomic on POSIX-local (`File.createNewFile`) and on HDFS
    * (namenode-arbitrated `create(overwrite=false)`); object stores without
    * atomic create-if-absent keep a small check-then-act window, bounded as
    * ever by the reconciliation cadence. A loser recomputes the seq over
    * waves ∪ claims and retries — bounded, since every loss implies
    * someone else's claim landed.
    */
  def record(spark: SparkSession, lakePath: String,
      files: Seq[String]): Long = {
    val fs = fsOf(spark, lakePath)
    val d = dir(lakePath)
    fs.mkdirs(d)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(d, s".wave-$nonce.tmp")
    val out = fs.create(tmp, true)
    try out.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    FaultPoints.hit("ingest.wave.staged")
    var attempt = 0
    val maxAttempts = 64
    while (true) {
      val l = fs.listStatus(d).toSeq
      val seq = (seqs(l, Wave) ++ seqs(l, Claim)).maxOption.getOrElse(0L) + 1
      if (exclusiveCreate(fs, new Path(d, s".claim-$seq"))) {
        FaultPoints.hit("ingest.claim.created")
        val dst = new Path(d, s"wave-$seq")
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(
            s"IngestLog.record: publish rename $tmp -> $dst failed after " +
              "winning the seq claim")
        FaultPoints.hit("ingest.wave.published")
        return seq
      }
      attempt += 1
      if (attempt >= maxAttempts) {
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"IngestLog.record: lost the wave-seq race $maxAttempts times at $d")
      }
    }
    -1L // unreachable
  }

  /** Drop waves at or below `upTo` of `journal` (the caller's [[list]],
    * not listed again) — called by the drain once a
    * reconciliation (full-listing) refresh has covered them, so the
    * journal directory stays bounded by the checkpoint cadence instead of
    * accumulating one marker file per drain forever (after years of
    * drains, listing `_ingest_log/` would itself become an O(history)
    * metadata op). Consumed-but-unGC'd waves are harmless: re-reading
    * them yields known files, an empty diff.
    */
  def gc(spark: SparkSession, lakePath: String, journal: Journal, upTo: Long): Unit = {
    val fs = fsOf(spark, lakePath)
    val d = dir(lakePath)
    // keep the HIGHEST consumed wave as the sequence anchor: deleting it
    // would reset [[record]]'s numbering below the manifest's watermark,
    // and the journal fast path would skip the renumbered waves until the
    // next reconciliation
    journal.waves.filter(_ <= upTo).dropRight(1)
      .foreach(s => fs.delete(new Path(d, s"wave-$s"), false))
    // staging debris from a crashed record() (unique-named, never visible
    // to readers) and claim markers — cleared once stale, so the journal
    // dir stays bounded. The age guard keeps this from racing a LIVE
    // concurrent recorder mid-stage or mid-publish (deleting its tmp or
    // claim would fail a legitimate ingest); a published claim (its wave
    // exists) is droppable immediately since the wave itself anchors the
    // sequence, but one uniform age rule keeps the GC simple. A stale
    // UNpublished claim is a harmless numbering gap — record() never
    // back-fills gaps (seq = max + 1), so freeing it cannot reuse a seq
    // below anyone's watermark.
    val staleBefore = System.currentTimeMillis() - 3600L * 1000
    journal.entries.foreach { st =>
      val n = st.getPath.getName
      val debris = (n.startsWith(".wave-") && n.endsWith(".tmp")) ||
        n.startsWith(".claim-")
      if (debris && st.getModificationTime < staleBefore)
        fs.delete(st.getPath, false)
    }
  }

  /** Every file recorded by the `waves` (a [[list]] of the journal) with
    * seq > `watermark`, plus their head (the caller's next watermark). The
    * read set is the NEW waves' listing files only — no lake directory
    * traversal, and no second listing of the journal.
    */
  def filesSince(spark: SparkSession, lakePath: String, waves: Seq[Long],
      watermark: Long): (Seq[String], Long) = {
    val fs = fsOf(spark, lakePath)
    val d = dir(lakePath)
    val fresh = waves.filter(_ > watermark)
    if (fresh.isEmpty) return (Seq.empty, watermark)
    val files = fresh.flatMap { s =>
      val in = fs.open(new Path(d, s"wave-$s"))
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        .split('\n').map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    }
    (files, fresh.max)
  }
}
