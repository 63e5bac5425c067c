package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Budget-proofed in r11 (the r10 driver artifact was `{}` — the
  * sequential local[4] run outlived the driver's wall budget on a ×3-slow
  * machine and the kill left NOTHING gradeable):
  *  - `oracle_sql.json` is written FIRST, so a mid-run kill leaves every
  *    already-dumped query gradeable instead of an all-or-nothing artifact;
  *  - default parallelism raised (local[12]) and the independent queries
  *    run through a small driver-side pool (`SPARK_GRAFT_VERIFY_POOL`,
  *    default 4) — each task on its own `spark.newSession()`, so the
  *    streaming drains' scoped settings (`CatalogCommon.withConf`) stay
  *    isolated from the concurrent queries, with Spark's FAIR scheduler
  *    interleaving the concurrent jobs;
  *  - queries start longest-first (LPT order, costed from the committed
  *    BENCH_DETAILS.json) so stragglers don't serialize at the tail;
  *  - any query that fails in the pool is RETRIED SEQUENTIALLY on the root
  *    session before being reported failed — parallel execution can only
  *    add wall-clock wins, never new failures.
  */
object Verify {

  /** Previous committed per-query min seconds (sf0.1 — a cost PROXY for
    * ordering only, not a measurement input). Missing file → empty.
    */
  private def previousMins(): Map[String, Double] = {
    val p = Paths.get("BENCH_DETAILS.json")
    if (!Files.exists(p)) return Map.empty
    val text = Files.readString(p)
    """"([^"]+)":\{"min_s":([0-9.eE+-]+)""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val (sfDir, outDir) = (args(0), args(1))
    // dev convenience: extra args restrict the run to the named queries
    // (the driver always calls with exactly two args → full run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "12")
    val poolSize = sys.env.getOrElse("SPARK_GRAFT_VERIFY_POOL", "4").toInt
    val spark = GraftSession.local(cpus)
      // FAIR so the pool's concurrent query jobs share task slots instead
      // of queueing whole jobs FIFO behind one wide stage
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle json FIRST (see scaladoc: partial > empty on a budget kill)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val prev = previousMins()
    val fallback =
      if (prev.isEmpty) 1.0
      else prev.values.toSeq.sorted.apply(prev.size / 2)
    val tasks = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq
      .sortBy { case (name, _) => -prev.getOrElse(name, fallback) }

    def runOne(s: SparkSession, name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(s, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")

    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (poolSize <= 1) {
      tasks.foreach { case (name, fn) =>
        try runOne(spark, name, fn)
        catch { case _: Throwable => failed.add(name); () }
      }
    } else {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[
        (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
      tasks.foreach(queue.add)
      val workers = (0 until poolSize).map { _ =>
        new Thread(() => {
          var next = queue.poll()
          while (next != null) {
            val (name, fn) = next
            // fresh session per task: isolated SQLConf/experimental state,
            // shared SparkContext (and its executor pool)
            try runOne(spark.newSession(), name, fn)
            catch { case _: Throwable => failed.add(name); () }
            next = queue.poll()
          }
        })
      }
      workers.foreach(_.start()); workers.foreach(_.join())
    }
    // sequential retry on the root session: a pool-mode failure may be a
    // concurrency artifact (shared fixture race, catalog name collision) —
    // only a failure that reproduces alone is a real failure
    import scala.jdk.CollectionConverters._
    failed.asScala.toSeq.sorted.foreach { name =>
      try {
        runOne(spark, name, SparkEntry.queries(name))
        System.err.println(s"[verify] $name succeeded on sequential retry")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    System.err.println(
      f"[verify] wall_s=${(System.nanoTime() - t0) / 1e9}%.1f " +
        s"queries=${tasks.size} pool=$poolSize cpus=$cpus")
    spark.stop()
  }
}
