package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of code starts: the block runs under a
  * fresh job tag, and a listener counts the job-start events carrying it.
  */
trait JobCount { this: SparkSpec =>

  private object JobCounter extends SparkListener {
    val byTag = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(',')).foreach { t =>
          byTag.computeIfAbsent(t, _ => new AtomicInteger()).incrementAndGet()
        }
  }
  private lazy val counter = { spark.sparkContext.addSparkListener(JobCounter); JobCounter }
  private val tagSeq = new AtomicInteger()

  /** Run `f` under a fresh job tag; its result and the jobs it started. */
  protected def jobsOf[T](f: => T): (T, Int) = {
    val c = counter
    val tag = s"${getClass.getSimpleName}-jobs-${tagSeq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    val out = try f finally sc.removeJobTag(tag)
    org.apache.spark.graftx.ListenerBusDrain.drain(sc)
    (out, Option(c.byTag.get(tag)).fold(0)(_.get))
  }
}
