package graft.runtime

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Test-scope oracle: `FeatureJob.temporalStage` and `Windows.sessionize`
  * as they stood before the two-Window rewrite, kept verbatim but for
  * access modifiers (a `lag` of the timestamp referenced twice, and one
  * `withColumn` pair of `lag` windows per feature: six Window operators for
  * the default lags). `TemporalStageSpec` compares the production stage
  * against it.
  */
object TemporalStageOracle {

  private def byKey(keys: Seq[String], ts: String): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(col(ts).asc)

  private def epochSeconds(c: Column): Column = c.cast("timestamp").cast("long")

  def sessionize(df: DataFrame, keys: Seq[String], ts: String, gapSeconds: Long): DataFrame = {
    val w = byKey(keys, ts)
    val cum = byKey(keys, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = epochSeconds(col(ts)) - lag(epochSeconds(col(ts)), 1).over(w)
    df.withColumn("_new_session", when(gap.isNull || gap > gapSeconds, 1).otherwise(0))
      .withColumn("session_no", sum(col("_new_session")).over(cum) - 1)
      // exact composite id: no per-row crypto hash in the hot path; callers
      // wanting a fixed-width key can md5 this column themselves
      .withColumn("session_id", concat_ws("#", keys.map(col) :+ col("session_no"): _*))
      .drop("_new_session")
  }

  def temporalStage(extracted: DataFrame, cfg: FeatureJob.Config): DataFrame = {
    val slim =
      if (cfg.keepPayload) extracted
      else extracted.drop("html", "text")
    val partitioned = slim
      .repartition(col("url"))
      .sortWithinPartitions(col("url"), col("warc_ts"))
    val sessionized = sessionize(partitioned, Seq("url"), "warc_ts", cfg.sessionGapSeconds)
    // revisit deltas over selected features (limited to fields the format's
    // schema actually has); lag carries the previous snapshot value
    // (leakage-free: trailing frame)
    val available = extracted.schema("features").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    cfg.lagFeatures.filter(available.contains).foldLeft(sessionized) { (df, f) =>
      val c = col(s"features.$f")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url")).orderBy(col("warc_ts").asc)
      df.withColumn(s"${f}_prev", lag(c, 1).over(w))
        .withColumn(s"${f}_delta", c - lag(c, 1).over(w))
    }
  }

  def pipeline(pages: DataFrame, cfg: FeatureJob.Config): DataFrame =
    temporalStage(
      FeatureJob.extractStage(pages, cfg.format, cfg.maxDocBytes, cfg.maxDocOps, cfg.codec), cfg)
}
