package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.multimodal.Multimodal

/** Smoke over the whole declared surface at sf0.001 + targeted invariants.
  * (Value-level correctness is the driver's DuckDB gate; `tools/
  * oracle_check.py` runs the same comparison locally.)
  */
class QueryCatalogSpec extends SparkSpec {

  test("every declared query runs and every oracle key has a query") {
    assert(QueryCatalog.oracleSql.keySet.subsetOf(QueryCatalog.queries.keySet))
    // the maps are built with toMap, which keeps the last of two equal keys
    val names = QueryCatalog.specs.map(_.name)
    assert(names.distinct == names, s"duplicate query names: ${names.diff(names.distinct)}")
    // onQueryStarted runs before start() returns, so `current` names the
    // query whose body started the stream
    @volatile var current = ""
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(current)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // what a body may not leave changed in the session it is given
    def sessionState = (spark.conf.getAll, spark.experimental.extraOptimizations,
      spark.experimental.extraStrategies)
    val leaked = scala.collection.mutable.ArrayBuffer.empty[String]
    spark.streams.addListener(listener)
    try QueryCatalog.queries.foreach { case (name, fn) =>
      current = name
      val before = sessionState
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.count() // must execute without throwing
      if (sessionState != before) leaked += name
    } finally spark.streams.removeListener(listener)
    assert(leaked.isEmpty, s"change the session they are given: ${leaked.sorted}")
    val streamed = started.asScala.toSet
    assert(streamed == QueryCatalog.streamingDrains,
      s"start a stream but are not Drain: ${(streamed -- QueryCatalog.streamingDrains).toSeq.sorted}; " +
        s"Drain but start none: ${(QueryCatalog.streamingDrains -- streamed).toSeq.sorted}")
  }

  test("q_backfill and q_stream_running leave the session conf as they found it") {
    val before = spark.conf.getAll
    QueryCatalog.queries("q_backfill")(spark, sf).collect()
    QueryCatalog.queries("q_stream_running")(spark, sf).collect()
    assert(spark.conf.getAll == before)
  }

  test("join cardinality estimate equals the materialized self-join size") {
    import org.apache.spark.sql.functions._
    val a = Tables.lineitem(spark, sf).select(col("l_partkey").as("k1"))
    val b = Tables.lineitem(spark, sf).select(col("l_partkey").as("k2"))
    val actual = a.join(b, col("k1") === col("k2")).count()
    val r = QueryCatalog.queries("q_join_cardinality")(spark, sf).head()
    assert(r.getAs[Long]("join_rows") === actual)
    assert(r.getAs[Long]("input_rows") ===
      Tables.lineitem(spark, sf).count())
  }

  test("approx_count_distinct is within tolerance of exact (emitted check)") {
    val rows = QueryCatalog.queries("q_approx_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_tol"), s"group ${r.get(0)} outside tolerance")
    }
  }

  test("graft expressions are callable from pure SQL after registration") {
    import org.apache.spark.sql.graftx.GraftFunctions
    GraftFunctions.registerAll(spark)
    Tables.documents(spark, sf).limit(5).createOrReplaceTempView("docs_sql")
    val out = spark.sql(
      """SELECT doc_id, rolling_hash(text) AS fp, simhash64(text) AS sh,
        |  size(minhash_sig(text)) AS k,
        |  jaro_winkler(text, text) AS jw
        |FROM docs_sql""".stripMargin).collect()
    assert(out.length == 5 && out.forall(_.getInt(3) == 24))
    assert(out.forall(_.getDouble(4) == 1.0))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("multimodal resize + frame sampling keep row/frame accounting") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).limit(10)
    val withBin = Multimodal.withPayload(docs)
    val resized = Multimodal.resize(withBin, 64, 64).collect()
    assert(resized.length == 10 && resized.forall(r => r.width == 64 && r.payload.nonEmpty))
    val frames = Multimodal.sampleFrames(withBin, stride = 2)
    val perDoc = frames.groupBy("docId").count().collect()
    assert(perDoc.length == 10)
    // every 2nd 256-byte block: ceil(ceil(len/256)/2) frames per doc
    val lens = withBin.select(col("doc_id"), octet_length(col("payload")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    perDoc.foreach { r =>
      val blocks = (lens(r.getLong(0)) + 255) / 256
      assert(r.getLong(1) == (blocks + 1) / 2)
    }
  }

  test("char shingles produce all length-n substrings distinctly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val s = Seq("abcd").toDF("t")
      .select(graft.functions.TextFunctions.charShingles(col("t"), 3).as("s"))
      .as[Seq[String]].head()
    assert(s == Seq("abc", "bcd"))
  }

  test("training pipeline writes a lang-partitioned corpus that prunes on lang") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-tdp").toString
    graft.pipeline.TrainingDataPipeline.run(Tables.documents(spark, sf), tmp)
    val back = spark.read.parquet(tmp)
    val one = back.filter(col("lang") === "en")
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    val summary = graft.pipeline.TrainingDataPipeline.summary(Tables.documents(spark, sf))
    val wantEn = summary.filter(col("lang") === "en").head().getLong(1)
    assert(one.count() == wantEn)
  }

  test("multimodal feature extraction is deterministic and typed") {
    val docs = Tables.documents(spark, sf).limit(20)
    val a = Multimodal.extractFeatures(Multimodal.withPayload(docs)).collect()
    val b = Multimodal.extractFeatures(Multimodal.withPayload(docs)).collect()
    assert(a.map(_.sha).sorted.sameElements(b.map(_.sha).sorted))
    assert(a.forall(_.features.length == 8))
    assert(a.forall(m => m.byteLen > 0 && m.sha.length == 64))
  }

  test("MATCH-clause pattern counts equal a driver-side greedy-regex replay") {
    import org.apache.spark.sql.functions._
    val got = QueryCatalog.queries("q_event_match")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_matches"), r.getAs[Long]("matched_len")))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_millis(col("ts")).as("tms"),
        col("event_id"), substring(col("event_type"), 1, 1).as("sym"))
      .collect()
    val expect = ev.groupBy(_.getAs[Long]("user_id")).toSeq.flatMap { case (u, rs) =>
      val s = rs.sortBy(r => (r.getAs[Long]("tms"), r.getAs[Long]("event_id")))
        .map(_.getAs[String]("sym")).mkString
      val ms = "v+cp".r.findAllIn(s).toSeq
      if (ms.isEmpty) None
      else Some(u -> ((ms.size.toLong, ms.map(_.length.toLong).sum)))
    }
    assert(got == expect.toMap)
    assert(got.nonEmpty)
  }

  test("conditional change/true events equal a driver-side running replay") {
    import org.apache.spark.sql.functions._
    val got = QueryCatalog.queries("q_change_events")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        ((r.getAs[Long]("cce"), r.getAs[Long]("cte")))).toMap
    val ev = Tables.events(spark, sf)
      .filter(pmod(col("user_id"), lit(29)) === 1)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"),
        col("event_type"), col("value")).collect()
    val expect = ev.groupBy(_.getAs[Long]("user_id")).toSeq.flatMap { case (u, rs) =>
      val sorted = rs.sortBy(r => (r.getAs[Long]("tms"), r.getAs[Long]("event_id")))
      var cce = 0L; var cte = 0L; var prev: String = null
      sorted.map { r =>
        val t = r.getAs[String]("event_type")
        if (prev != null && prev != t) cce += 1
        if (r.getAs[Double]("value") > 600.0) cte += 1
        prev = t
        (u, r.getAs[Long]("event_id")) -> ((cce, cte))
      }
    }
    assert(got == expect.toMap)
    assert(got.nonEmpty)
  }

  test("timeseries interpolation equals a driver-side replay, bit for bit") {
    import org.apache.spark.sql.functions._
    val day = 86400000L
    val t0 = 1704067200000L
    val got = QueryCatalog.queries("q_timeseries_interp")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("slice_ms")) ->
        (if (r.isNullAt(2)) None else Some(r.getAs[Double]("v_interp")))).toMap
    val pts = Tables.events(spark, sf).filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("tms"),
        col("event_id"), col("value")).collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rs) =>
        u -> rs.groupBy(_.getAs[Long]("tms")).toSeq.map { case (t, g) =>
          t -> g.maxBy(_.getAs[Long]("event_id")).getAs[Double]("value")
        }.sortBy(_._1)
      }
    val expect = pts.toSeq.flatMap { case (u, series) =>
      (0 to 30).map { i =>
        val t = t0 + i * day
        val before = series.filter(_._1 <= t).lastOption
        val after = series.filter(_._1 > t).headOption
        val v = (before, after) match {
          case (Some((pt, pv)), Some((nt, nv))) =>
            Some(pv + (nv - pv) * ((t - pt).toDouble / (nt - pt).toDouble))
          case _ => None
        }
        (u, t) -> v
      }
    }
    assert(got == expect.toMap)
    assert(got.values.exists(_.isDefined))
  }

  test("BPE merge induction matches a driver-side round replay") {
    import org.apache.spark.sql.functions.col
    val got = QueryCatalog.queries("q_bpe_train")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    var docs: Map[Long, Vector[String]] = Tables.documents(spark, sf)
      .filter(col("doc_id") < 200).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' ').toVector).toMap
    val expect = (1 to got.size).map { rnd =>
      val cnt = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      docs.values.foreach(toks =>
        toks.zip(toks.tail).foreach(p => cnt(p) += 1))
      val ((a, b), c) = cnt.toSeq.sortBy { case ((x, y), n) => (-n, x, y) }.head
      val merged = a + "_" + b
      docs = docs.map { case (d, toks) =>
        val nt = scala.collection.mutable.ArrayBuffer.empty[String]
        toks.foreach { t =>
          if (nt.nonEmpty && nt.last == a && t == b) nt(nt.size - 1) = merged
          else nt += t
        }
        d -> nt.toVector
      }
      (rnd, merged, c, docs.values.map(_.size.toLong).sum)
    }
    assert(got == expect)
    assert(got.nonEmpty && got.forall(_._3 > 0))
  }

  test("regression slope/intercept match driver-side OLS") {
    import org.apache.spark.sql.functions._
    val rows = QueryCatalog.queries("q_regression")(spark, sf).collect()
    assert(rows.nonEmpty)
    val data = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("double").as("x"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("y"))
      .collect().groupBy(_.getAs[String]("n_name"))
    rows.foreach { r =>
      val g = data(r.getAs[String]("n_name"))
      val n = g.length.toDouble
      val (sx, sy) = (g.map(_.getAs[Double]("x")).sum, g.map(_.getAs[Double]("y")).sum)
      val sxx = g.map(v => v.getAs[Double]("x") * v.getAs[Double]("x")).sum
      val sxy = g.map(v => v.getAs[Double]("x") * v.getAs[Double]("y")).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-6 * math.max(1.0, math.abs(slope)))
      assert(r.getAs[Long]("n") == g.length.toLong)
    }
  }
}
