package graft

import scala.collection.mutable.ArrayBuffer

import graft.etl.StatusStore
import graft.sources.FaultPoints

/** Watches a drain through its fault points: the months it marks
  * complete, in mark order, and optionally an abort at the first hit of a
  * named point, the way a crash there would end the drain.
  */
object DrainMarks {

  /** Run `f`, recording at each `drain.copy.marked` the month that became
    * complete in `store` since the previous mark (`Long.MinValue` when the
    * mark completed no month or several). With `crashAt`, the first hit of
    * that point throws. Returns `f`'s result (None when it was aborted)
    * and the marks.
    */
  def record[T](store: StatusStore, table: String, crashAt: Option[String] = None)(
      f: => T): (Option[T], Seq[Long]) = {
    def complete(): Set[Long] = store.rows()
      .collect { case r if r.tableName == table && r.isComplete => r.primaryPartitionValue }
      .toSet
    var seen = complete()
    val marks = ArrayBuffer.empty[Long]
    FaultPoints.install { name =>
      if (name == "drain.copy.marked") {
        val now = complete()
        marks += ((now -- seen).toSeq match { case Seq(m) => m; case _ => Long.MinValue })
        seen = now
      }
      if (crashAt.contains(name)) throw new RuntimeException(s"injected@$name")
    }
    val out =
      try Some(f)
      catch { case e: RuntimeException if e.getMessage.startsWith("injected@") => None }
      finally FaultPoints.clear()
    (out, marks.toSeq)
  }
}
