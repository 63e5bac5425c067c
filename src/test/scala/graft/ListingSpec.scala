package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.multimodal.VisualIndex
import graft.sources.{Compaction, Listing}

/** Bounded partitioned stores are listed on the driver: a read of the
  * visual signature index (4 × 64 `q=/qb=` dirs, more than Spark's
  * 32-child parallel-discovery threshold), an append to it and the fused
  * rewrite of `compactPartitions` start no file-listing job, and leave the
  * session's settings as they were.
  */
class ListingSpec extends SparkSpec with JobCount {

  /** The jobs `f` starts that are Spark's distributed file listing. */
  private def listingJobsOf(f: => Unit): Int = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files"))) n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try f finally {
      org.apache.spark.graftx.ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    n.get
  }

  /** A visual index over 4096 signatures: every one of its 256 cells holds
    * files.
    */
  private def visualIndex(): String = {
    val idx = s"${Files.createTempDirectory("graft-listing")}/idx"
    VisualIndex.build(spark.range(4096).select(col("id").as("doc_id"),
      xxhash64(col("id")).as("sig")), idx)
    idx
  }

  test("reading the visual index runs no Spark job and finds every cell") {
    val idx = visualIndex()
    val conf = spark.conf.getAll
    val (df, jobs) = jobsOf(Listing.read(spark, idx))
    assert(jobs == 0, s"reading the index ran $jobs Spark jobs")
    assert(spark.conf.getAll == conf)
    assert(df.select("q", "qb").distinct().count() == 256)
    assert(df.count() == 4 * 4096L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryFileIndex(1 paths)"), plan)
  }

  test("appending to the visual index and a fused compactPartitions of it run no listing job") {
    val idx = visualIndex()
    val appended = listingJobsOf(VisualIndex.append(spark.range(4096, 4196)
      .select(col("id").as("doc_id"), xxhash64(col("id")).as("sig")), idx))
    assert(appended == 0, s"appending ran $appended listing jobs")
    val conf = spark.conf.getAll
    var st: Compaction.Stats = null
    val listing = listingJobsOf {
      st = Compaction.compactPartitions(spark, idx, targetBytes = 1L << 30)
    }
    assert(listing == 0, s"compaction ran $listing listing jobs")
    assert(st.filesAfter == 256 && st.filesBefore > st.filesAfter, st.toString)
    assert(spark.conf.getAll == conf)
    assert(Listing.read(spark, idx).count() == 4 * 4196L)
  }
}
