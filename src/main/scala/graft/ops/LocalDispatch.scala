package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StructType}

/** Size-adaptive dispatch for the iterative graph operators: whether a
  * graph is small enough for the driver to replay the operator's rounds
  * locally instead of running them as distributed join rounds.
  *
  * The decision is ONE bounded collect of the (already materialized) frame:
  * one task reads its partitions in turn and stops one row past the bound,
  * so a graph over it never reaches the driver whole and no count probe
  * runs first. The bound is the key's threshold in directed edges, divided
  * by the edges each row stands for, and clamped so that the collected
  * rows fit `spark.driver.maxResultSize`: a raised threshold then falls
  * back to the distributed path instead of failing the collect.
  */
object LocalDispatch {

  /** Threshold of [[Dedup.clusters]] and its callers, and of
    * `Curation.resolveCanonicalChains`.
    */
  val CcKey = "spark.graft.cc.localEdgeThreshold"

  /** Threshold of the other iterative `Graph` operators and
    * `Behavior.stationaryDistribution`.
    */
  val GraphKey = "spark.graft.graph.localEdgeThreshold"

  /** Default of both keys, in directed edges (64 MB as longs). */
  private val DefaultEdges: Long = 4L << 20

  /** The rows of `df` when there are at most the bound of them and no cell
    * is null; `None` otherwise, and the caller runs its distributed path.
    * `df` should be materialized (a `localCheckpoint`): the collect then
    * starts exactly one Spark job. A threshold of 0 starts none.
    */
  def rows(df: DataFrame, key: String, edgesPerRow: Int = 1): Option[Array[Row]] = {
    val spark = df.sparkSession
    val threshold = spark.conf.getOption(key).map(_.toLong).getOrElse(DefaultEdges)
    val maxResultSize = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val bound = rowBound(threshold, edgesPerRow, maxResultSize, rowBytes(df.schema))
    if (bound == 0) return None
    val rows = df.coalesce(1).limit(bound + 1).collect()
    if (rows.length <= bound && rows.forall(!_.anyNull)) Some(rows) else None
  }

  /** Rows the driver may collect: `threshold / edgesPerRow`, at most
    * `Int.MaxValue - 1` (a collect is one array), and, when
    * `maxResultSize` is not 0 (unlimited), few enough that the bound plus
    * the one row past it fit in `maxResultSize` less 1/64 of it, which is
    * left for the compression framing and the task's metric updates that
    * travel with the rows.
    */
  private[ops] def rowBound(threshold: Long, edgesPerRow: Int, maxResultSize: Long,
                            rowBytes: Long): Int = {
    require(edgesPerRow >= 1 && rowBytes >= 1, "need edgesPerRow >= 1 and rowBytes >= 1")
    val byEdges = math.max(threshold / edgesPerRow, 0L)
    val byBytes =
      if (maxResultSize <= 0) Long.MaxValue
      else math.max((maxResultSize - maxResultSize / 64) / rowBytes - 1, 0L)
    math.min(math.min(byEdges, byBytes), Int.MaxValue - 1L).toInt
  }

  /** Bytes a collected row of `schema` takes before compression: a 4-byte
    * length, an 8-byte null bitset (schemas up to 64 fields), 8 bytes per
    * field, and the default size of each variable-width value.
    */
  private[ops] def rowBytes(schema: StructType): Long =
    12L + schema.fields.map { f =>
      8L + (if (UnsafeRow.isFixedLength(f.dataType)) 0L else f.dataType.defaultSize.toLong)
    }.sum

  /** [[rows]] of `df` with every column cast to long, for replays that work
    * on longs and cast their output back; `None` unless every column is a
    * long, int or short, the types that make that round trip exactly.
    */
  def longRows(df: DataFrame, key: String, edgesPerRow: Int = 1): Option[Array[Row]] = {
    val integral = df.schema.fields.forall(f => f.dataType match {
      case LongType | IntegerType | ShortType => true
      case _ => false
    })
    if (!integral) None
    else rows(df.select(df.columns.map(c => df(c).cast(LongType)): _*), key, edgesPerRow)
  }
}
