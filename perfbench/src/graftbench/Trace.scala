package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark operation: a backfill pass, a drain, an ingest record, a
  * query. Recorded in both modes (its wall time is what the end-to-end
  * metrics are made of); `fs` is filled only in the traced run.
  */
final case class OpSpan(id: Long, kind: String, name: String, pass: Int,
    startMs: Long, endMs: Long, durMs: Double, fs: Map[String, Long],
    attrs: Map[String, Any])

/** Spans from benchmark operations down to Spark SQL executions and jobs.
  *
  * Every operation runs under a Spark job tag `graftbench-op-<id>` (a local
  * property of the calling thread), so SQL executions (whose start event
  * carries the tags) and jobs (whose properties carry them) link back to
  * the operation that caused them; a job also names its SQL execution.
  * Spark is observed only through its public `SparkListener` and
  * `QueryExecutionListener` APIs; nothing is traced inside the program.
  * Spans stay in memory and are written as JSON lines by [[writeJsonl]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private var nextId = 0L
  val ops = mutable.ArrayBuffer.empty[OpSpan]

  private final class Job(val id: Int, val startMs: Long, val tags: String,
      val execId: Option[Long], val description: String) {
    @volatile var endMs: Long = -1L
    val agg = new Array[Long](Tracer.TaskFields.length)
  }
  private final class Exec(val id: Long, val startMs: Long, val tags: Set[String],
      val description: String) {
    @volatile var endMs: Long = -1L
    @volatile var planMs: Long = 0L
    @volatile var root: Long = id
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val planMs = new ConcurrentHashMap[Long, Long]()

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val j = new Job(e.jobId, e.time, prop("spark.job.tags").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong),
        prop("spark.job.description").getOrElse(""))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          val v = Array(1L, m.executorRunTime, m.executorCpuTime / 1000000L,
            m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
            m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
          j.agg.synchronized { v.indices.foreach(i => j.agg(i) += v(i)) }
        }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val x = new Exec(s.executionId, s.time, s.jobTags, s.description)
        s.rootExecutionId.foreach(r => x.root = r)
        execs.put(s.executionId, x)
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  private object qeListener extends QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      planMs.merge(qe.id, ms, (a: Long, b: Long) => a + b); ()
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` as one operation span. */
  def op[T](kind: String, name: String, pass: Int,
      attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val tag = s"graftbench-op-$id"
    val fs0 = if (enabled) CountingFileSystem.snapshot() else Map.empty[String, Long]
    if (enabled) sc.addJobTag(tag)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val durMs = (System.nanoTime() - t0) / 1e6
      val endMs = System.currentTimeMillis()
      if (enabled) sc.removeJobTag(tag)
      val fs = if (enabled)
        CountingFileSystem.delta(fs0, CountingFileSystem.snapshot()) else Map.empty[String, Long]
      synchronized { ops += OpSpan(id, kind, name, pass, startMs, endMs, durMs, fs, attrs) }
    }
  }

  /** Deliver every queued listener event, then write all spans. */
  def writeJsonl(path: String, extra: Seq[Map[String, Any]]): Unit = {
    if (enabled) org.apache.spark.graftbench.BusDrain.drain(sc)
    planMs.asScala.foreach { case (id, ms) => Option(execs.get(id)).foreach(_.planMs = ms) }
    def opOf(tags: Iterable[String]): Option[Long] = tags.collectFirst {
      case t if t.startsWith("graftbench-op-") => t.stripPrefix("graftbench-op-").toLong
    }
    val lines = mutable.ArrayBuffer.empty[String]
    ops.foreach { o =>
      lines += Json.obj(Map("type" -> "op", "id" -> o.id, "kind" -> o.kind,
        "name" -> o.name, "pass" -> o.pass, "start_ms" -> o.startMs,
        "end_ms" -> o.endMs, "dur_ms" -> o.durMs, "fs" -> o.fs) ++ o.attrs)
    }
    execs.values.asScala.toSeq.sortBy(_.id).foreach { x =>
      lines += Json.obj(Map("type" -> "sql", "id" -> x.id, "root" -> x.root,
        "op" -> opOf(x.tags), "start_ms" -> x.startMs, "end_ms" -> x.endMs,
        "plan_ms" -> x.planMs, "description" -> x.description.take(120)))
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      lines += Json.obj(Map("type" -> "job", "id" -> j.id,
        "op" -> opOf(j.tags.split(",").toSeq), "sql" -> j.execId,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "description" -> j.description.take(120)) ++
        Tracer.TaskFields.zip(j.agg).toMap)
    }
    extra.foreach(m => lines += Json.obj(m))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

object Tracer {
  val TaskFields: Seq[String] = Seq("tasks", "run_ms", "cpu_ms", "gc_ms",
    "in_records", "in_bytes", "out_records", "out_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes")
}

/** Minimal JSON encoder for the benchmark's own records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}")
}
