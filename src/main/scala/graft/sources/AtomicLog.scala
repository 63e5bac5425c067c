package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** A directory of numbered entries `<kind>-<seq>` (each a file or a
  * directory), published whole: an entry is written under the staged name
  * `.<kind>-<seq>.tmp` and published by ONE rename, so a published name is
  * complete by construction — no `_SUCCESS` probe, no pointer, no
  * roll-forward or roll-back. A kill at any instant leaves every published
  * entry whole, plus at most staged debris that no reader looks at.
  * Readers list once ([[list]]) and take the entries they need.
  *
  * Single writer: only it publishes, and only it deletes ([[gc]]) staged
  * debris and the entries its store no longer reads. A GC that dies midway
  * leaves entries the readers already ignore.
  */
private[graft] final class AtomicLog(fs: FileSystem, root: Path) {
  import AtomicLog._

  def path(kind: String, seq: Long): Path = new Path(root, s"$kind-$seq")

  /** One listing of the log: published entries oldest first, and staged
    * names. Empty when the directory does not exist yet.
    */
  def list(): Listing = {
    val names =
      try fs.listStatus(root).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    Listing(
      names.collect { case Published(k, s) => Entry(k, s.toLong) }.sortBy(_.seq),
      names.filter(Staged.matches))
  }

  /** Write entry `kind-seq` into its staged name with `write`, then publish
    * it by one rename. The staged name must be free: the writer's [[gc]]
    * clears a crashed writer's debris.
    */
  def publish(kind: String, seq: Long)(write: Path => Unit): Unit = {
    val tmp = new Path(root, s".$kind-$seq.tmp")
    write(tmp)
    Compaction.renameOrThrow(fs, tmp, path(kind, seq))
  }

  /** Delete the staged debris of `l` and the published entries `drop`
    * selects.
    */
  def gc(l: Listing)(drop: Entry => Boolean): Unit = {
    l.staged.foreach(n => fs.delete(new Path(root, n), true))
    l.entries.filter(drop).foreach(e => fs.delete(path(e.kind, e.seq), true))
  }
}

private[graft] object AtomicLog {
  final case class Entry(kind: String, seq: Long)

  final case class Listing(entries: Seq[Entry], staged: Seq[String]) {
    def seqs(kind: String): Seq[Long] = entries.collect { case Entry(`kind`, s) => s }
    def newest(kind: String): Option[Long] = seqs(kind).lastOption
  }

  private val Published = "([a-z]+)-(\\d+)".r
  private val Staged = "\\.[a-z]+-\\d+\\.tmp".r
}
