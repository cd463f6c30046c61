package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions.{col, count, lit, when}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType, StructType}

/** Size-adaptive dispatch for the iterative graph operators: whether a
  * graph is small enough for the driver to replay the operator's rounds
  * locally instead of running them as distributed join rounds.
  *
  * The decision rides the operator's own eager `localCheckpoint`: an
  * `Observation` on it counts the rows and the rows with a null cell, so
  * no probe job runs and nothing reaches the driver before the decision.
  * Only a frame within the bound and without nulls is then collected, in
  * one job. The bound is the key's threshold in directed edges, divided
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

  /** `df` materialized by an eager `localCheckpoint`, its row count, and
    * its rows when `eligible`, there are at most the bound of them and no
    * cell is null; otherwise `None`, and the caller runs its distributed
    * path over the checkpoint. The checkpoint is one Spark job; the rows
    * take one more, and only when they are returned. Integral columns come
    * back as longs. `eligible = false` (a replay that cannot run on this
    * frame) keeps the rows on the executors whatever the size.
    */
  def materialize(df: DataFrame, key: String, edgesPerRow: Int = 1,
                  eligible: Boolean = true): (DataFrame, Long, Option[Array[Row]]) = {
    val spark = df.sparkSession
    val observed = new Observation()
    val anyNull = df.columns.map(c => col(c).isNull).reduceOption(_ || _).getOrElse(lit(false))
    val frame = df.observe(observed, count(lit(1)).as("rows"), count(when(anyNull, 1)).as("nulls"))
      .localCheckpoint()
    val stats = observed.get
    val (n, nulls) = (stats("rows").asInstanceOf[Long], stats("nulls").asInstanceOf[Long])
    val threshold = spark.conf.getOption(key).map(_.toLong).getOrElse(DefaultEdges)
    val maxResultSize = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val bound = rowBound(threshold, edgesPerRow, maxResultSize, rowBytes(df.schema))
    val rows =
      if (!eligible || bound == 0 || n > bound || nulls > 0) None
      else if (n == 0) Some(Array.empty[Row])
      else Some(frame.select(frame.schema.fields.map(f =>
        if (integral(f.dataType)) col(f.name).cast(LongType) else col(f.name)): _*)
        .coalesce(1).collect())
    (frame, n, rows)
  }

  /** Whether a column of type `t` round-trips exactly through a long. */
  private[ops] def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType => true
    case _ => false
  }

  /** Rows the driver may collect: `threshold / edgesPerRow`, at most
    * `Int.MaxValue - 1` (a collect is one array), and, when
    * `maxResultSize` is not 0 (unlimited), few enough that the bound plus
    * one row fit in `maxResultSize` less 1/64 of it, which is left for the
    * compression framing and the task's metric updates that travel with
    * the rows.
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
}
