// Native vector expressions + the similarity-join rewrite rule.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GreaterThanOrEqual, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, LongType}

/** Cosine similarity of two `array<float>` columns as ONE native expression.
  *
  * The accumulation order matches `graft.functions.VectorFunctions.cosine`
  * exactly (floats widened to double, each of dot/normA/normB accumulated
  * left-to-right), so results are bit-identical to both the higher-order-
  * function formulation and the DuckDB oracle — just ~1 virtual call per row
  * instead of six array traversals through generic SQL evaluators.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    if (x.length != y.length) null else CosineSim.cosine(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""float[] x = $a.toFloatArray();
         |float[] y = $b.toFloatArray();
         |if (x.length != y.length) { ${ev.isNull} = true; }
         |else { ${ev.value} = org.apache.spark.sql.graftx.CosineSim.cosine(x, y); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)

  override def prettyName: String = "cosine_sim"
}

object CosineSim {
  /** Same per-accumulator sequence as three separate left folds. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Deterministic random-hyperplane LSH bucket — native twin of
  * `VectorFunctions.lshBucket` (identical hyperplane constants and fold
  * order → identical bucket ids).
  */
case class LshBucketExpr(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def nullSafeEval(input: Any): Any =
    LshBucketExpr.bucket(input.asInstanceOf[ArrayData].toFloatArray(), bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftx.LshBucketExpr.bucket($c.toFloatArray(), $bits)")

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)

  override def prettyName: String = "lsh_bucket"
}

object LshBucketExpr {
  def bucket(v: Array[Float], bits: Int): Long = {
    var out = 0L
    var h = 0
    while (h < bits) {
      var proj = 0.0
      var d = 0
      while (d < v.length) {
        // xor of large-prime multiples: a linear (a*d + b*h) % 7 pattern
        // has period 7 in d, collapsing 8 hyperplanes onto ≤7 distinct
        // directions (bit 7 duplicated bit 0 → half the buckets unusable)
        proj += v(d).toDouble * (((d * 73856093L) ^ (h * 19349663L)) % 7 - 3).toDouble
        d += 1
      }
      if (proj >= 0.0) out |= (1L << h)
      h += 1
    }
    out
  }
}

/** Index of the nearest centroid (squared-L2) for an `array<float>` vector.
  * Centroids ride along as a plan reference object (broadcast with the
  * serialized plan — KBs for k≲1000), so assignment is a map-only pass with
  * no join.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def nullSafeEval(input: Any): Any =
    NearestCentroid.nearest(input.asInstanceOf[ArrayData].toFloatArray(), centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftx.NearestCentroid.nearest($c.toFloatArray(), $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid"
}

object NearestCentroid {
  def distSq(v: Array[Float], c: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < v.length && i < c.length) {
      val x = v(i).toDouble - c(i)
      d += x * x
      i += 1
    }
    d
  }

  def nearest(v: Array[Float], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < centroids.length) {
      val d = distSq(v, centroids(j))
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** Indices of the `nprobe` nearest centroids, ascending by distance. */
  def nearestN(v: Array[Float], centroids: Array[Array[Double]], nprobe: Int): Array[Int] =
    centroids.indices
      .sortBy(j => distSq(v, centroids(j)))
      .take(nprobe).toArray
}

/** The `nprobe` nearest centroid indices as `array<int>` (for query-side
  * multi-cluster probing).
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
    nprobe: Int) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      NearestCentroid.nearestN(
        input.asInstanceOf[ArrayData].toFloatArray(), centroids, nprobe))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"org.apache.spark.sql.graftx.NearestCentroid.nearestN($c.toFloatArray(), $ref, $nprobe))")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroids"
}

object VectorExprs {
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.toColumn(CosineSim(Bridge.toExpr(a), Bridge.toExpr(b)))
  def lsh_bucket(c: Column, bits: Int): Column =
    Bridge.toColumn(LshBucketExpr(Bridge.toExpr(c), bits))
  def nearest_centroid(c: Column, centroids: Array[Array[Double]]): Column =
    Bridge.toColumn(NearestCentroid(Bridge.toExpr(c), centroids))
  def nearest_centroids(c: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    Bridge.toColumn(NearestCentroids(Bridge.toExpr(c), centroids, nprobe))
}

/** OPT-IN optimizer rule: rewrite a cosine-threshold filter over a cross/
  * unconditioned inner join into an LSH-bucket equi-join.
  *
  *   Filter(cosine_sim(a, b) >= t && …, Join(L, R, cross))
  *     ⇒ Filter(same, Join(L, R, inner, lsh_bucket(a) = lsh_bucket(b)))
  *
  * This is an APPROXIMATION (pairs in different buckets are dropped — recall
  * < 1 for t far below 1), so it only fires when
  * `spark.graft.similarity.rewrite=true` in a session whose optimizer
  * carries it (`q_cosine_rewrite` plans in an [[IsolatedSession]] with
  * both). At 100 TB it converts an O(n²) cartesian into a
  * hash-partitioned equality join — the plan a user gets by
  * writing the naive query and opting in, instead of hand-rewriting to
  * `Similarity.cosineNearDups`.
  */
object RewriteCosineSelfJoin extends Rule[LogicalPlan] {

  private val FlagKey = "spark.graft.similarity.rewrite"

  private def thresholdConjunct(cond: Expression): Option[CosineSim] =
    cond match {
      case GreaterThanOrEqual(c: CosineSim, Literal(_, DoubleType)) => Some(c)
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        thresholdConjunct(l).orElse(thresholdConjunct(r))
      case _ => None
    }

  private def alreadyRewritten(cond: Expression): Boolean =
    cond.exists(_.isInstanceOf[LshBucketExpr])

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(FlagKey, "false").toBoolean) plan
    else plan.transform {
      // shape 1: Filter on top of an unconditioned cross/inner join
      case f @ Filter(cond, Join(l, r, Cross | Inner, None, hint))
          if !alreadyRewritten(cond) =>
        thresholdConjunct(cond) match {
          case Some(CosineSim(a, b))
              if a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) =>
            val eq = org.apache.spark.sql.catalyst.expressions.EqualTo(
              LshBucketExpr(a, 8), LshBucketExpr(b, 8))
            Filter(cond, Join(l, r, Inner, Some(eq), hint))
          case _ => f
        }
      // shape 2: the threshold already pushed into the join condition
      case j @ Join(l, r, Cross | Inner, Some(cond), hint)
          if !alreadyRewritten(cond) =>
        thresholdConjunct(cond) match {
          case Some(CosineSim(a, b))
              if a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) =>
            val eq = org.apache.spark.sql.catalyst.expressions.EqualTo(
              LshBucketExpr(a, 8), LshBucketExpr(b, 8))
            Join(l, r, Inner,
              Some(org.apache.spark.sql.catalyst.expressions.And(cond, eq)), hint)
          case _ => j
        }
    }
}

/** Session-extension wiring: the planner strategy of the as-of join
  * ([[AsofJoinStrategy]]), which [[AsofPhysical.asof]] needs to plan. A
  * host application adds it once, when it builds its session —
  * `SparkSession.builder().withExtensions(new GraftExtensions) …` or
  * `--conf spark.sql.extensions=org.apache.spark.sql.graftx.GraftExtensions`
  * — as `graft.GraftSession` does for graft's own entry points; graft
  * never installs it into a running session. The opt-in optimizer rules
  * ([[RewriteCosineSelfJoin]], [[RewriteAggToProjection]]) are not part of
  * it: they are added per query, with their flags, to an
  * [[IsolatedSession]].
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
}
