package graft

/** Dev tool: dump formatted physical plans for the named queries (all if no
  * names given) so scan pushdown / broadcast / codegen spans can be reviewed.
  * `runMain graft.Explain <sfDir> [query ...]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else QueryCatalog.queries.keys.toSeq.sorted
    val spark = GraftSession.local("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      QueryCatalog.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
