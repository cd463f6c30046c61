package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Z-order (Morton) interleave — the multi-dimensional clustering key for
  * 100-TB table LAYOUT. Sorting/range-partitioning a corpus by one column
  * gives data skipping on that column only; writing it ordered by the
  * Z-order key of two columns gives bounded min/max spans in BOTH
  * dimensions per file, so scans filtered on either dimension (or both)
  * prune files — the same trick Iceberg/Delta expose as `zorder by`.
  * Here it is a plain deterministic expression, so the layout is portable:
  * any engine can recompute the key and verify which file a row belongs
  * to (q154's oracle replays the interleave as pow2 arithmetic in SQL).
  *
  * Bit semantics: both inputs must be in [0, 2^31) (callers scale/clamp
  * their dimensions first — a layout key wants uniform-ish buckets, so
  * dimension scaling is a conscious modelling step, not something to hide
  * in the expression); the key interleaves the low 31 bits of each, `a`
  * on even bit positions and `b` on odd, yielding a non-negative long
  * < 2^62. Out-of-range input is an error, not a silent wrap: a wrapped
  * dimension would silently destroy the locality the layout exists for.
  *
  * Unlike the kernel expressions (which generate a call of their entry
  * method, see [[KernelExpression]]), this one implements doGenCode — it
  * sits in the write path's hot projection, and the O(log w) mask-spread
  * trick is exactly the kind of branch-free straight-line code whole-stage
  * codegen fuses well.
  */
object ZOrder {
  final val MaxDim: Long = (1L << 31) - 1

  /** Spread the low 31 bits of x so bit i lands at position 2i. */
  def spread(x: Long): Long = {
    var v = x & 0x7fffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** The out-of-range error of both evaluation paths. */
  def dimensionError(a: Long, b: Long): IllegalArgumentException =
    new IllegalArgumentException(s"zorder_key dimensions must be in [0, 2^31), got ($a, $b)")

  def interleave(a: Long, b: Long): Long = {
    if (a < 0L || a > MaxDim || b < 0L || b > MaxDim) throw dimensionError(a, b)
    spread(a) | (spread(b) << 1)
  }
}

/** (a, b) -> Morton-interleaved long key; see [[ZOrder]]. */
case class ZOrderKey(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_key"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType | IntegerType | NullType, LongType | IntegerType | NullType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zorder_key expects two integral columns, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => other.asInstanceOf[Long]
  }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder.interleave(asLong(a), asLong(b))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (x, y) = (ctx.freshName("zx"), ctx.freshName("zy"))
      // the same O(log w) mask spread as ZOrder.spread, inlined as
      // straight-line branch-free code inside the fused stage
      def spreadCode(v: String, in: String): String =
        s"""long $v = $in & 0x7fffffffL;
           |$v = ($v | ($v << 16)) & 0x0000ffff0000ffffL;
           |$v = ($v | ($v << 8)) & 0x00ff00ff00ff00ffL;
           |$v = ($v | ($v << 4)) & 0x0f0f0f0f0f0f0f0fL;
           |$v = ($v | ($v << 2)) & 0x3333333333333333L;
           |$v = ($v | ($v << 1)) & 0x5555555555555555L;""".stripMargin
      // an untyped NULL child never reaches this code, but it must compile
      def asLong(e: Expression, v: String) = if (e.dataType == NullType) "0L" else s"(long) $v"
      s"""long ${x}in = ${asLong(left, a)};
         |long ${y}in = ${asLong(right, b)};
         |if (${x}in < 0L || ${x}in > ${ZOrder.MaxDim}L ||
         |    ${y}in < 0L || ${y}in > ${ZOrder.MaxDim}L) {
         |  throw ${ZOrder.getClass.getName.stripSuffix("$")}.dimensionError(${x}in, ${y}in);
         |}
         |${spreadCode(x, s"${x}in")}
         |${spreadCode(y, s"${y}in")}
         |${ev.value} = $x | ($y << 1);""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrderKey =
    copy(left = l, right = r)
}

/** Hilbert-curve index — the LOCALITY-optimal sibling of [[ZOrder]]:
  * unlike Morton order, the Hilbert curve never jumps across the space
  * between consecutive indexes, so per-file min/max spans along both
  * dimensions are tighter on average and range scans prune better (the
  * reason query engines offer hilbert clustering next to zorder). Same
  * layout contract as [[ZOrder]]: a plain deterministic expression any
  * engine can recompute to verify which file a row belongs to.
  *
  * Bit semantics: the standard bit-level walk (the public-domain
  * `xy2d` algorithm): both inputs in [0, 2^order); the index is in
  * [0, 4^order). Out-of-range input errors — a wrapped dimension would
  * silently destroy the locality the layout exists for.
  *
  * Per-row cost is `order` iterations of branch-light integer ops; the
  * key is a [[KernelExpression]], so the write-path projection it sits in
  * stays whole-stage-codegen'd.
  */
object Hilbert {
  def xy2d(order: Int, x0: Long, y0: Long): Long = {
    require(order >= 1 && order <= 31, s"order must be in [1, 31], got $order")
    val n = 1L << order
    require(x0 >= 0L && x0 < n && y0 >= 0L && y0 < n,
      s"hilbert_key dimensions must be in [0, 2^$order), got ($x0, $y0)")
    var x = x0; var y = y0
    var d = 0L
    var s = n >> 1
    while (s > 0L) {
      val rx = if ((x & s) > 0L) 1L else 0L
      val ry = if ((y & s) > 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate the quadrant so the curve enters/exits correctly
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1L - x; y = s - 1L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Entry of [[HilbertKey]]. */
  def hilbert_key(a: Long, b: Long, order: Int): Long = xy2d(order, a, b)
}

/** (a, b) -> Hilbert index long key at a fixed curve order; see [[Hilbert]]. */
case class HilbertKey(left: Expression, right: Expression, order: Int)
  extends KernelExpression with BinaryLike[Expression] {
  require(order >= 1 && order <= 31, s"order must be in [1, 31], got $order")
  override def nullable: Boolean = left.nullable || right.nullable
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_key"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType | IntegerType | NullType, LongType | IntegerType | NullType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert_key expects two integral columns, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override lazy val replacement: Expression = call(Hilbert, prettyName,
    Seq(left, right).map(e => if (e.dataType == LongType) e else Cast(e, LongType)) :+ Literal(order))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertKey =
    copy(left = newLeft, right = newRight)
}

/** Consistent-hash ring successor lookup. The sorted vnode ring (positions
  * ascending, parallel shard ids) is model-sized and lives in the expression
  * (references array), so the per-row work is ONE binary search — the
  * previous formulation walked a literal array<struct> with an interpreted
  * `filter` lambda plus `array_min` per row (O(vnodes) boxed comparisons,
  * twice per q288 row), which dominated the operator's serial scan.
  * Semantics are exactly the SQL it replaces:
  * `coalesce(array_min(filter(ring, e -> e.pos >= key)).shard,
  *           array_min(ring).shard)` — first vnode at or clockwise-after
  * the key owns it; past the last vnode wraps to the ring's minimum.
  * Positions must be sorted ascending and distinct (the builder enforces
  * distinctness at ring-construction time).
  */
object RingLookup {
  def successor(positions: Array[Long], shards: Array[Long], key: Long): Long = {
    var lo = 0
    var hi = positions.length // first index with positions(i) >= key
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (positions(mid) >= key) hi = mid else lo = mid + 1
    }
    if (lo == positions.length) shards(0) else shards(lo)
  }
}

/** The model literal of [[RingSuccessorShard]]: the sorted vnode ring. */
final class VnodeRing(positions: Array[Long], shards: Array[Long]) extends KernelModel {
  protected def state: Array[AnyRef] = Array(positions, shards)
  def ring_successor_shard(key: Long): Long = RingLookup.successor(positions, shards, key)
}

/** key -> owning shard over a fixed sorted vnode ring; see [[RingLookup]]. */
case class RingSuccessorShard(child: Expression, positions: Array[Long],
                              shards: Array[Long])
    extends KernelExpression with UnaryLike[Expression] {
  require(positions.nonEmpty && positions.length == shards.length,
    "ring positions and shards must be parallel and non-empty")
  override def dataType: DataType = LongType
  override def prettyName: String = "ring_successor_shard"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects bigint input, got ${t.simpleString}")
  }
  override lazy val replacement: Expression = invokeModel(new VnodeRing(positions, shards),
    prettyName, Seq(KernelExpression.typed(child, LongType)))
  override protected def withNewChildInternal(newChild: Expression): RingSuccessorShard =
    copy(child = newChild)
}

/** The model literal of [[ComponentLabel]]: sorted distinct node ids and,
  * parallel to them, each node's component label.
  */
final class ComponentLabels(ids: Array[Long], labels: Array[Long]) extends KernelModel {
  protected def state: Array[AnyRef] = Array(ids, labels)
  def component_label(id: Long): Long = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i >= 0) labels(i) else id
  }
}

/** id -> its component label over a driver-held labelling, or the id itself
  * when it is no node: a left join onto (id, cluster_id) plus
  * `coalesce(cluster_id, id)`, as a row-local binary search. Its size is
  * the caller's to bound (`graft.ops.Dedup` uses it only for dup graphs
  * within the `LocalDispatch` bound).
  */
case class ComponentLabel(child: Expression, ids: Array[Long], labels: Array[Long])
    extends KernelExpression with UnaryLike[Expression] {
  require(ids.length == labels.length, "ids and labels must be parallel")
  override def dataType: DataType = LongType
  override def prettyName: String = "component_label"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects bigint input, got ${t.simpleString}")
  }
  override lazy val replacement: Expression = invokeModel(new ComponentLabels(ids, labels),
    prettyName, Seq(KernelExpression.typed(child, LongType)))
  override protected def withNewChildInternal(newChild: Expression): ComponentLabel =
    copy(child = newChild)
}
