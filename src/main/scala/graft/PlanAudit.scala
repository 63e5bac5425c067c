package graft

/** Dev/audit tool: physical-plan profile of every declared query —
  * exchanges (shuffles), broadcast vs sort-merge joins, scans, and
  * whole-stage-codegen coverage — written as a markdown table so plan
  * regressions are reviewable in diffs (complements BENCH_DETAILS.json's
  * plan fingerprints, which detect changes but don't describe them).
  *
  * `runMain graft.PlanAudit <sfDir> <outFile>`
  */
object PlanAudit {

  final case class Profile(exchanges: Int, bhj: Int, smj: Int, scans: Int,
      wscg: Int, globalWindows: Int)

  def profile(plan: String): Profile = {
    def count(marker: String): Int =
      plan.sliding(marker.length).count(_ == marker)
    Profile(
      exchanges = count("Exchange hashpartitioning") +
        count("Exchange rangepartitioning") + count("Exchange SinglePartition"),
      bhj = count("BroadcastHashJoin"),
      smj = count("SortMergeJoin") + count("ShuffledHashJoin"),
      scans = count("FileScan") + count("BatchScan"),
      // codegen'd stages print as `*(id) Operator` in treeString — count
      // distinct stage ids
      wscg = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size,
      globalWindows = count("Window [").min(1) // presence flag
    )
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus)
      // static plans: with AQE on, executedPlan is an AdaptiveSparkPlan
      // shell whose WholeStageCodegen/stage structure only materializes
      // during execution — useless for a textual audit
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = QueryCatalog.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val p = profile(df.queryExecution.executedPlan.toString)
        s"| $name | ${p.exchanges} | ${p.bhj} | ${p.smj} | ${p.scans} | ${p.wscg} |"
      } catch {
        case e: Throwable => s"| $name | — | — | — | — | err: ${e.getClass.getSimpleName} |"
      }
    }
    val header =
      s"""# PLANS — physical-plan profile per declared query (sf=$sfDir)
         !
         !Static physical plans (AQE off for the audit — at runtime AQE may
         !further convert shuffled joins to broadcast and coalesce
         !partitions). Columns: hash/range/single exchanges (shuffles),
         !broadcast-hash joins, shuffled joins (sort-merge + shuffled-hash),
         !file/batch scans, whole-stage-codegen spans. Iterative operators
         !(CC, PageRank, LPA, IVF fit) also run fixture actions during
         !construction; their loop shuffles are documented in SCALE.md
         !rather than visible in this single-plan view.
         !
         !| query | shuffles | BHJ | shuffled joins | scans | WSCG spans |
         !|---|---|---|---|---|---|""".stripMargin('!')
    val body = header + "\n" + rows.mkString("\n") + "\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), body)
    println(s"[planaudit] wrote $out (${rows.size} queries)")
    spark.stop()
  }
}
