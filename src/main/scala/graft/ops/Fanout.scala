package graft.ops

import org.apache.spark.sql.DataFrame

/** Scale-adaptive input fan-out (guide §2.5 "input skew: one huge
  * unsplittable file ... repartition immediately after the read").
  *
  * A heavy row-local kernel projection (shingling, MinHash, per-window md5,
  * bigram explode) placed directly above a scan inherits the SCAN's
  * partitioning. When the source is a single small file (or an unsplittable
  * codec), that is one or two tasks — the kernel work serializes on one
  * core while the rest of the host idles. [[ensure]] spreads the input
  * across the session's task slots ONLY in that case: a real corpus scan
  * already yields at least `defaultParallelism` splits, so at scale this is
  * a no-op and no extra shuffle of the payload is ever paid.
  */
object Fanout {
  /** Repartition `df` to `defaultParallelism` when its plan yields fewer
    * than a quarter of the available slots; identity otherwise. The
    * partition probe is one SQL execution that plans the query; over an
    * exchange, an adaptive plan also runs the shuffle map stages as a job.
    * Counting a file scan's splits from its file index instead would copy
    * the split rules of Spark's `FileSourceScanExec.createReadRDD`; on the
    * `neardup` benchmark that saved no CPU beyond run-to-run noise.
    */
  def ensure(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val have = df.rdd.getNumPartitions
    if (have.toLong * 4 < want) df.repartition(want) else df
  }
}
