package graft

import org.apache.spark.sql.functions._

import graft.etl.{IncrementalBackup, JobConfig, StatusStore}
import graft.etl.EtlRunner.RelationSource
import graft.sources.Bucketing

/** Physical-plan assertions: the shuffle/pruning behavior SCALE.md claims. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bucketed join on the bucket key plans without a shuffle exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    Bucketing.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice"),
      "orders_b", "o_orderkey", 4, s"$tmp/orders_b")
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf).select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      "lineitem_b", "o_orderkey", 4, s"$tmp/lineitem_b")
    val joined = Bucketing.bucketedJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
    val p = plan(joined)
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$p")
    assert(joined.count() == Tables.lineitem(spark, sf).count())
    // contrast: the same join on plain parquet DOES shuffle (or broadcasts)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }

  test("ETL read-back prunes partitions on the pid filter") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val cfg = JobConfig(tableName = "orders", numMappers = 2)
    val job = new IncrementalBackup(spark, cfg,
      new StatusStore(spark, s"$tmp/status"), s"$tmp/dest")
    job.drain(RelationSource(Tables.orders(spark, sf)))
    val back = job.readBack()
    val minPid = back.agg(min("pid")).head().get(0).asInstanceOf[Number].longValue()
    val one = back.filter(col("pid") === minPid)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("pid"),
      s"expected partition pruning:\n$scan")
    assert(one.count() > 0 && one.count() < back.count())
  }

  test("filter + projection reach the parquet scan (pushdown)") {
    val q = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
      .select("l_orderkey", "l_quantity")
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double"),
      s"columns not pruned:\n$p")
  }

  test("order-by-limit plans as top-k (TakeOrderedAndProject), not a global sort") {
    val q = Tables.orders(spark, sf).orderBy("o_totalprice").limit(1)
    assert(plan(q).contains("TakeOrderedAndProject"))
  }

  test("word freq plans map-side partial aggregation under the shuffle") {
    val p = plan(QueryCatalog.queries("q_word_freq")(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"expected partial aggregate before the exchange:\n$p")
  }

  test("tfidf broadcasts the one-row total, no shuffled cartesian") {
    val df = QueryCatalog.queries("q_tfidf")(spark, sf)
    df.count() // finalize AQE
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q6 filter and projection reach the scan (classic pushdown query)") {
    val p = plan(QueryCatalog.queries("q6_forecast_revenue")(spark, sf))
    // the toString elides long filter lists, so match the truncated prefix
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipda"),
      s"shipdate range not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate"),
      s"columns not pruned to the 4 used:\n$p")
  }

  test("q21 waiting-suppliers plans without any cartesian/nested-loop join") {
    val df = QueryCatalog.queries("q21_waiting_suppliers")(spark, sf)
    df.count() // finalize AQE
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier dim should broadcast:\n$p")
  }

  test("q16 complaint-supplier exclusion is a broadcast anti join") {
    val df = QueryCatalog.queries("q16_supplier_cnt")(spark, sf)
    df.count() // finalize AQE
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"100-row supplier side should broadcast:\n$p")
  }

  test("dim joins broadcast (checked on the final adaptive plan)") {
    val df = QueryCatalog.queries("q5_region_revenue")(spark, sf)
    df.count() // materialize so AQE finalizes the plan
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("top-k-per-query rank filter pushes a WindowGroupLimit below the sort") {
    // row_number().over(w) <= k must NOT sort/keep whole partitions: Spark's
    // InferWindowGroupLimit caps each group at k rows pre-window. At 100 TB
    // per-query candidate sets this is the difference between sorting
    // everything and a bounded per-group heap.
    val emb = Tables.embeddings(spark, sf)
    val q = graft.similarity.Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 3), k = 5)
    val p = plan(q)
    assert(p.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pushdown in:\n$p")
  }

  test("runtime bloom filter prunes the fact scan when the dim side can't broadcast") {
    // the at-scale shape: a selective dim side too big to broadcast → Spark's
    // InjectRuntimeFilter builds a bloom filter on the dim keys and applies
    // might_contain on the fact side BEFORE the shuffle. Locally we simulate
    // "too big to broadcast" by disabling broadcast; the scan-size gate is
    // lowered because sf0.1 is far below the 10GB default.
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > lit(100000.0))
      val j = Tables.lineitem(spark, sf)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom") || p.contains("might_contain"),
        s"expected a runtime bloom filter in:\n${p.take(2000)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fingerprint dedup shuffles fingerprints only, never document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off for this plan so Exchange nodes sit in executedPlan directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exchanges =
      try graft.dedup.Dedup.exactByFingerprint(Tables.documents(spark, sf))
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(exchanges.nonEmpty, "expected a hash-aggregate shuffle")
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"shuffle must not carry document bodies, got: $names")
    }
  }

  test("preferred-copy winner election shuffles (fp, prio, id) only, never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = Tables.documents(spark, sf)
    val plan =
      try graft.dedup.Dedup.preferredCopy(docs,
          when(col("source") === "curated", lit(0)).otherwise(lit(1)))
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    // the election aggregate (pre-join) must not carry text; only the final
    // semi join repartitions full rows, and that join is keyed by doc_id
    val election = exchanges.filter(_.output.map(_.name).contains("fp"))
    assert(election.nonEmpty, "expected the fingerprint election shuffle")
    election.foreach { e =>
      assert(!e.output.map(_.name).contains("text"),
        s"election shuffle must not carry text: ${e.output.map(_.name)}")
    }
  }

  test("decontaminate broadcasts the benchmark grams, never a cross join") {
    val docs = Tables.documents(spark, sf)
    val q = graft.dedup.Dedup.decontaminate(
      docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0))
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"benchmark side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no quadratic join allowed:\n$p")
  }

  test("token-budget window is partitioned by lang (no global window)") {
    val q = graft.pipeline.TokenBudget.sample(
      Tables.documents(spark, sf), Map("en" -> 1000L), 500L)
    val norm = plan(q).replaceAll("#\\d+", "")
    assert(norm.contains("windowspecdefinition(lang"),
      s"window must be partitioned by lang:\n$norm")
  }

  test("count-min estimate is a pure codegen lookup (no UDF, no join)") {
    import spark.implicits._
    val fit = Seq("a", "b", "a").toDF("token")
    val sketch = graft.functions.CountMin.fit(fit, "token", 2, 16)
    // estimate over a parquet-backed column: a local Seq would be folded
    // into a LocalTableScan by ConvertToLocalRelation, hiding the Project
    val df = Tables.documents(spark, sf).select(col("lang").as("token"))
    val q = df.select(graft.functions.CountMin.estimate(sketch, col("token")))
    val p = plan(q)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    assert(p.contains("Project"), p)
  }

  test("AQE splits the skewed join partition at runtime and keeps semantics") {
    import org.apache.spark.sql.functions._
    val rows = QueryCatalog.queries("q_aqe_skew_join")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("skew_split"),
        "OptimizeSkewedJoin did not fire on the skewed fact partition")
    }
    // semantics: identical to the plain (untuned) join on the main session
    val li = Tables.lineitem(spark, sf).select(
      when(col("l_orderkey") % 4 =!= 0, lit(0L))
        .otherwise(col("l_orderkey") % 31 + 1).as("skew_key"),
      col("l_extendedprice"), col("l_quantity"))
    val dim = spark.range(0, 32).select(col("id").as("skew_key"),
      concat(lit("grp_"), (col("id") % 4).cast("string")).as("grp"))
    val plain = li.join(dim, "skew_key").groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
          .as("rev"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("qty"))
      .orderBy("grp").collect()
    val got = rows.map(r => (r.getAs[String]("grp"), r.getAs[Long]("n"),
      r.getAs[Double]("rev"), r.getAs[Double]("qty"))).toSeq
    val want = plain.map(r => (r.getAs[String]("grp"), r.getAs[Long]("n"),
      r.getAs[Double]("rev"), r.getAs[Double]("qty"))).toSeq
    assert(got === want)
  }
}
