package graft
/** Dev tool: time named queries (count action) for N reps each.
  * `runMain graft.Timeq <sfDir> <reps> <query ...>`
  */
object Timeq {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val c = QueryCatalog.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        f"$dt%.3f(n=$c)"
      }
      println(s"TIMEQ $n: ${times.mkString(" ")}")
    }
    spark.stop()
  }
}
