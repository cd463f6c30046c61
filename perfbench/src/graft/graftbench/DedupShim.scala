package graft.graftbench

import org.apache.spark.sql.DataFrame

import graft.ops.Dedup

/** Access to the pair stage of `Dedup.nearDupDedup`, which is
  * `private[graft]`: the benchmark times graft's own candidate + verify
  * code rather than a copy of it.
  */
object DedupShim {
  def verifiedPairs(pre: DataFrame, numHashes: Int, numBands: Int, jaccard: Double): DataFrame =
    Dedup.verifiedPairsPre(pre, numHashes, numBands, jaccard)
}
