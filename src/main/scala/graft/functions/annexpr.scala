package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.core.TextKernels

/** The model literal of the centroid expressions: the nCentroids x dim
  * centroid table, with their entry methods.
  */
final class CentroidTable(centroids: Array[Array[Float]]) extends KernelModel {
  protected def state: Array[AnyRef] = Array(centroids)

  /** Centroid ids ordered by (cosine desc, id asc), top `n`. */
  private def rank(vec: Array[Float], n: Int): Array[Int] = {
    val sims = new Array[Double](centroids.length)
    var i = 0
    while (i < centroids.length) { sims(i) = TextKernels.cosine(vec, centroids(i)); i += 1 }
    val ids = Array.range(0, centroids.length)
    // stable selection of top-n by (sim desc, id asc); nCentroids is small
    val out = new Array[Int](math.min(n, ids.length))
    val taken = new Array[Boolean](ids.length)
    var k = 0
    while (k < out.length) {
      var best = -1
      var bestSim = Double.NegativeInfinity
      var j = 0
      while (j < ids.length) {
        if (!taken(j) && sims(j) > bestSim) { bestSim = sims(j); best = j }
        j += 1
      }
      if (best < 0) {
        // all remaining sims are NaN (e.g. a NaN component in the input
        // embedding): fall back to the smallest untaken id so one bad
        // vector degrades to an arbitrary-but-deterministic assignment
        // instead of crashing the stage
        var j2 = 0
        while (best < 0 && j2 < ids.length) {
          if (!taken(j2)) best = j2
          j2 += 1
        }
      }
      taken(best) = true
      out(k) = best
      k += 1
    }
    out
  }

  def nearest_centroid(vec: ArrayData): Int = rank(vec.toFloatArray(), 1)(0)
  def nearest_centroids(vec: ArrayData, n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(rank(vec.toFloatArray(), n))
}

/** Doc-local coarse-quantizer expressions for IVF ANN. The centroid table is
  * embedded in the expression (nCentroids x dim floats — a few KB; it ships
  * to executors inside the serialized plan, the expression-level analog of a
  * broadcast). Assignment is therefore a ZERO-shuffle narrow map: the
  * round-1 formulation (cross-join corpus x centroids + row_number window)
  * shuffled nCentroids copies of the whole corpus to pick a per-row argmax —
  * the VERDICT.md scale-killer this replaces.
  */
trait CentroidExpression extends KernelExpression with UnaryLike[Expression] {
  def centroids: Array[Array[Float]]
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> input, got ${t.simpleString}")
  }
  /** `CentroidTable(centroids).entry(vector, params...)`. */
  protected final def centroidCall(params: Any*): Expression =
    invokeModel(new CentroidTable(centroids), prettyName,
      KernelExpression.typed(child, ArrayType(FloatType)) +: params.map(Literal(_)))
}

/** Nearest centroid id (argmax cosine, ties -> smallest id). */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends CentroidExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  override lazy val replacement: Expression = centroidCall()
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** The `n` nearest centroid ids, best first (query-side probe list). */
case class NearestCentroids(child: Expression, centroids: Array[Array[Float]], n: Int)
    extends CentroidExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override lazy val replacement: Expression = centroidCall(n)
  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}
