package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 rehearsal fixtures: scale the driver's sf0.1 tables by an integer
  * factor with DETERMINISTIC, distribution-preserving replication — the
  * dataset the sf1 scale rehearsal (ScaleBench → BENCH_sf1.json) runs on.
  * The driver's testdata is read-only and tops out at sf0.1, so the 10×
  * point is synthesized here, entirely in Spark (no driver-side loops; the
  * generation itself is a scale test).
  *
  * Replica design — the point is that each FAMILY's workload scales the way
  * a real 10× corpus would, without changing its combinatorial shape:
  *  - `documents`: replica k Caesar-shifts every letter by k
  *    (`translate`, codegen'd). Length, token counts, shingle counts and
  *    the PLANTED near-dup structure are preserved per replica (both
  *    members of a pair shift together), while cross-replica Jaccard
  *    collapses — so dedup candidate pairs grow 10×, not 100×, exactly
  *    like a corpus of 10× distinct documents. Vocabulary grows ~10×,
  *    the realistic BM25 shape.
  *  - `embeddings`: replica k rotates the vector by k positions (norm and
  *    coordinate distribution preserved; direction decorrelated), so ANN
  *    neighbor structure stays within-replica and the workload is 10×
  *    distinct vectors, not 10 copies of the same space.
  *  - `events`: replica k offsets user_id/event_id; timestamps unchanged.
  *    10× users over the same horizon = 10× arrival rate with constant
  *    per-user behavior — the streaming state machines see 10× keys and
  *    10× rows per window, the true traffic-growth shape.
  *  - `orders`/`lineitem`: key-offset replicas with dates unchanged — the
  *    monthly partition COUNT stays fixed while each partition grows 10×,
  *    which is precisely the ETL bulk-vs-loop story at scale.
  *  - dims (`customer nation region part supplier`): copied verbatim;
  *    dimensions don't scale with fact volume.
  */
object ScaleFixtures {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Replica-k letter permutation: AFFINE cipher x → a·x + b (mod 26) with
    * a coprime to 26 — 312 distinct permutations, so replicas stay
    * textually distinct for any practical factor. A plain Caesar shift
    * (a = 1) wraps at k = 26: a factor-30 run would make replicas 26–29
    * byte-identical to 0–3 and quadratically inflate the dedup workload
    * (measured: ×116 pair rows at factor 30 before this fix). k < 26
    * keeps a = 1, so factor-10 fixtures are unchanged.
    */
  private def caesar(c: org.apache.spark.sql.Column, k: Int) = {
    val coprimes = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val a = coprimes((k / 26) % coprimes.length)
    val b = k % 26
    val lo = Array.tabulate(26)(i => ('a' + (a * i + b) % 26).toChar).mkString
    val up = lo.toUpperCase
    translate(c, Lower + Upper, lo + up)
  }

  /** Union of `factor` deterministic replicas of `df`, transformed per k. */
  private def replicate(df: DataFrame, factor: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(k => f(df, k)).reduce(_ unionByName _)

  def generate(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    val files = math.max(factor, 8)
    def out(name: String, df: DataFrame): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    out("documents", replicate(Tables.documents(spark, srcDir), factor) {
      (d, k) =>
        if (k == 0) d
        else d.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
          .withColumn("text", caesar(col("text"), k))
    })

    // rotation wraps at the vector dimension (slice would go negative past
    // it — hit at factor 100 on dim-64 vectors); each full wrap negates the
    // vector instead, which preserves the norm and coordinate distribution
    // while keeping replicas directionally distinct up to 2×dim factors
    val dim = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select(size(col("embedding"))).head().getInt(0)
    out("embeddings", replicate(Tables.embeddings(spark, srcDir), factor) {
      (d, k) =>
        if (k == 0) d
        else {
          val r = k % dim
          val rotated =
            if (r == 0) col("embedding")
            else concat(slice(col("embedding"), lit(r + 1),
                size(col("embedding")) - lit(r)),
              slice(col("embedding"), lit(1), lit(r)))
          val flipped =
            if ((k / dim) % 2 == 1) transform(rotated, x => -x) else rotated
          d.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
            .withColumn("embedding", flipped)
        }
    })

    out("events", replicate(Tables.events(spark, srcDir), factor) { (d, k) =>
      if (k == 0) d
      else d.withColumn("event_id", col("event_id") + lit(k * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(k * 10000000L))
    })

    out("orders", replicate(Tables.orders(spark, srcDir), factor) { (d, k) =>
      if (k == 0) d
      else d.withColumn("o_orderkey", col("o_orderkey") + lit(k * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(k * 10000000L))
    })

    out("lineitem", replicate(Tables.lineitem(spark, srcDir), factor) {
      (d, k) =>
        if (k == 0) d
        else d.withColumn("l_orderkey", col("l_orderkey") + lit(k * 1000000000L))
    })

    Seq("customer", "nation", "region", "part", "supplier").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/scale/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, factor)
    println(s"""{"scale_out":"$out","factor":$factor}""")
    spark.stop()
  }
}
