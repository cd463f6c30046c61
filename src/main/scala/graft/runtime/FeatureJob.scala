package graft.runtime

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{DecimalType, IntegerType}

import graft.core.Compression
import graft.functions._
import graft.pages.PageGen
import graft.temporal.Windows

/** The end-to-end feature pipeline (SURVEY.md §2.9), spark-submit-able:
  *
  *   pages(url, warc_ts, html, text, lang)
  *     -> (instance_id, features, status) = <format>_extract(text)
  *        [N2 streaming md5 + A1-A4 features, one fused pass/row]
  *        status = ok | limit | timeout | parse_error | decode_error | null_text
  *     -> ONE hash repartition on url, sorted within partitions by
  *        (url, warc_ts), feeds the whole window stage: sessionize [W4]
  *        with the lag/delta features [W1] — one Exchange, one Sort, two
  *        Windows (the lags, then the running session count)
  *     -> per-shard parquet + atomic lineage manifest + metrics
  *
  * Scale design: work is split into `shards` by url hash; ONE job processes
  * every missing shard (single input scan, `_shard IN (...)` selection,
  * dynamic-partition-overwrite write into per-shard directories) with
  * per-shard rows/checksums observed in-flight, and each shard is recorded
  * in the manifest only after the write is durable, so a killed job resumes
  * by processing exactly the missing shards (ResumeSpec proves output
  * equality). Hot-url skew inside a shard is handled by AQE; the shard
  * split itself spreads urls uniformly (xxhash64). On a real Iceberg layout
  * the `_shard` predicate becomes a storage-partition prune (same
  * pmod(xxhash64(url)) formula as PageTable.BucketCol).
  */
object FeatureJob {

  final case class Config(
      outDir: String,
      shards: Int = 8,
      sessionGapSeconds: Long = 6 * 3600,
      lagFeatures: Seq[String] = Seq("clauses", "variables"),
      resume: Boolean = true,
      /** document grammar: cnf | wcnf | opb (S2 format dispatch) */
      format: String = "cnf",
      /** carry raw html/text through to the output table (default off: the
        * feature table needs identity + features, not payload — dragging
        * multi-KB payloads through the window exchange dominates runtime)
        */
      keepPayload: Boolean = false,
      /** per-document resource envelope (ResourceLimits.h contract): a doc
        * over this byte budget gets status="limit" instead of stalling a
        * task — deterministic, so resume checksums are stable. Bytes alone
        * do not bound memory (the 13-byte `2147483647 0` names a 2^31-entry
        * variable range), so a cnf or wcnf doc whose variable-indexed arrays
        * would pass the same budget (KernelBudget.overVars) is "limit" too
        */
      maxDocBytes: Int = DocExtract.DefaultMaxBytes,
      /** the TIME half of the envelope: deterministic op-count budget
        * (total literal count, or OPB term count — the work unit of the
        * feature kernels); a doc over it gets status="timeout". Byte and op
        * budgets bind independently (comment-heavy docs are
        * byte-big/op-small; dense literal lists are op-big at few bytes).
        */
      maxDocOps: Long = DocExtract.DefaultMaxOps,
      /** payload codec: "none" = the doc column holds plain bytes/text;
        * "auto"/"xz"/"gzip"/"bzip2"/"zstd" = it holds COMPRESSED bytes
        * (real gbd corpora ship as .cnf.xz blobs), decompressed inside the
        * same fused kernel evaluation as the parse — no decompressed
        * intermediate column exists in the plan, so nothing multi-KB is
        * ever duplicated by projection collapse or shuffled. Corrupt
        * streams and zip bombs surface as status="decode_error" rows.
        */
      codec: String = Compression.None)

  final case class RunReport(
      processedShards: Seq[Int],
      skippedShards: Seq[Int],
      rows: Long,
      wallMs: Long)

  /** Deterministic shard of a url. */
  def shardCol(shards: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("url")), lit(shards)).cast(IntegerType)

  /** The per-row feature stage — no shuffle, fully parallel: one fused
    * `<format>_extract` evaluation per row decompresses (when codec !=
    * none), parses, hashes and featurizes; over-budget docs come back
    * limited/timed_out and corrupt compressed streams decode_failed without
    * running the kernels (the full ResourceLimits outcome channel,
    * deterministically).
    */
  def extractStage(pages: DataFrame, format: String = DocFormat.Cnf,
                   maxDocBytes: Int = DocExtract.DefaultMaxBytes,
                   maxDocOps: Long = DocExtract.DefaultMaxOps,
                   codec: String = Compression.None): DataFrame =
    pages
      .withColumn("_x", doc_extract(col("text"), format, maxDocBytes, maxDocOps, codec))
      .withColumn("instance_id", col("_x.instance_id"))
      .withColumn("features", col("_x.features"))
      .withColumn("status",
        when(col("text").isNull, "null_text")
          .when(col("_x.decode_failed"), "decode_error")
          .when(col("_x.limited"), "limit")
          .when(col("_x.timed_out"), "timeout")
          .when(!col("_x.parse_ok"), "parse_error")
          .otherwise("ok"))
      .drop("_x")

  /** The corpus stage: sessionization + revisit features. One explicit HASH
    * repartition on url serves every window below it (all window specs are
    * partitionBy(url) orderBy(warc_ts)), and the sortWithinPartitions
    * satisfies their sort order — check with .explain: a single Exchange,
    * a single Sort, and two Windows (every lag, then the running session
    * count), shared by the whole window stage. Payload columns are
    * dropped first unless keepPayload: shuffling multi-KB html/text through
    * the window exchange would dominate the stage.
    */
  def temporalStage(extracted: DataFrame, cfg: Config): DataFrame = {
    val slim =
      if (cfg.keepPayload) extracted
      else extracted.drop("html", "text")
    val partitioned = slim
      .repartition(col("url"))
      .sortWithinPartitions(col("url"), col("warc_ts"))
    // revisit deltas over selected features (limited to fields the format's
    // schema actually has): sessionize lags each feature in the same window
    // as the previous timestamp (leakage-free: trailing frame)
    val available = extracted.schema("features").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    val lagged = cfg.lagFeatures.filter(available.contains).distinct
    val sessionized = Windows.sessionize(partitioned, Seq("url"), "warc_ts",
      cfg.sessionGapSeconds, lagged.map(f => s"${f}_prev" -> col(s"features.$f")))
    val deltas = lagged.flatMap(f => Seq(col(s"${f}_prev"),
      (col(s"features.$f") - col(s"${f}_prev")).as(s"${f}_delta")))
    val kept = partitioned.columns.map(c => col(s"`$c`")) :+ col("session_no") :+ col("session_id")
    sessionized.select(kept ++ deltas: _*)
  }

  def pipeline(pages: DataFrame, cfg: Config): DataFrame =
    temporalStage(
      extractStage(pages, cfg.format, cfg.maxDocBytes, cfg.maxDocOps, cfg.codec), cfg)

  /** Per-row content-checksum term (resume equality proof): xxhash64 over
    * the identity columns, decimal-accumulated (exact under ANSI mode; a
    * long sum would overflow).
    */
  private def checksumTerm: org.apache.spark.sql.Column =
    xxhash64(col("url"), col("warc_ts"), coalesce(col("instance_id"), lit("")))
      .cast(DecimalType(20, 0))

  /** Fingerprint of the input relation from METADATA only — no input scan
    * (the previous count() was a full corpus pass). File-backed inputs
    * (parquet/Iceberg-layout) fingerprint on the sorted (path, length,
    * modificationTime) listing, read from the relation's ALREADY-CACHED file
    * index (no extra filesystem calls) — the plain-Parquet stand-in for an
    * Iceberg snapshot id. Folding size+mtime means rewriting a same-named
    * file with different content invalidates completed shards (a path-only
    * fingerprint would resume over stale outputs). In-memory test relations
    * fall back to the canonicalized-plan hash (stable per plan within a
    * session).
    */
  def fingerprint(pages: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val schemaHash = java.lang.Integer.toHexString(pages.schema.simpleString.hashCode)
    val fileEntries: Array[AnyRef] = pages.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation
    }.collect {
      case fs: HadoopFsRelation =>
        fs.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}": AnyRef)
    }.flatten.sortBy(_.toString).toArray
    val source =
      if (fileEntries.nonEmpty)
        f"f${java.util.Arrays.hashCode(fileEntries)}%08x-${fileEntries.length}"
      else {
        // non-HadoopFs file sources (if any) still contribute their paths
        val files = pages.inputFiles
        if (files.nonEmpty)
          f"f${java.util.Arrays.hashCode(files.sorted.asInstanceOf[Array[AnyRef]])}%08x-${files.length}"
        else s"p${pages.queryExecution.logical.semanticHash()}"
      }
    s"$schemaHash-$source"
  }

  /** Run resumably: process every shard missing from the manifest, in ONE
    * pass over the input. The missing shards are selected with a single
    * `_shard IN (...)` predicate (on the Iceberg-style PageTable layout this
    * is a partition prune — `_shard` uses the same pmod(xxhash64(url))
    * formula as PageTable.BucketCol), the pipeline runs once for all of
    * them, and a dynamic-partition-overwrite write lands every shard
    * directory in the same job. Per-shard row counts and content checksums
    * are observed IN-FLIGHT (Dataset.observe), so nothing is re-read after
    * the write — the job reads the input exactly once (the round-1 version
    * scanned it O(shards) times plus a fingerprint count and per-shard
    * read-backs).
    *
    * Durability contract is unchanged: manifest entries commit only after
    * the write completes, so a crash mid-job reprocesses exactly the
    * uncommitted shards on resume (idempotent partition overwrite).
    */
  def run(spark: SparkSession, pages: DataFrame, cfg: Config): RunReport = {
    val t0 = System.currentTimeMillis()
    val listener = new GraftMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val fp = fingerprint(pages)
      val done = if (cfg.resume) Manifest.completed(cfg.outDir, fp) else Map.empty[Int, Manifest.Entry]
      val todo = (0 until cfg.shards).filterNot(done.contains)

      var totalRows = 0L
      if (todo.nonEmpty) {
        // Dynamic partition overwrite only replaces partitions PRESENT in
        // the written data: a todo shard that yields zero rows this run
        // would otherwise keep stale files from a previous fingerprint
        // while the manifest records rows=0. Todo shards are by definition
        // uncommitted for this fingerprint, so clearing their directories
        // up front is safe (a crash before commit reprocesses them anyway).
        todo.foreach { sh =>
          val dir = Paths.get(s"${cfg.outDir}/data/_shard=$sh")
          if (Files.exists(dir)) {
            val walk = Files.walk(dir)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.deleteIfExists(p))
            finally walk.close()
          }
        }
        val withShard = pages.withColumn("_shard", shardCol(cfg.shards))
        // the in-flight observe() costs 2 conditional aggregates PER TODO
        // SHARD on every row; past ~64 shards that per-row cost rivals the
        // scan itself, so very wide todo sets run as several single-pass
        // batches (each batch still reads only its own `_shard IN` slice,
        // and the manifest commits per batch — resume granularity improves)
        todo.grouped(64).foreach { batch =>
          val input =
            if (batch.size == cfg.shards) withShard
            else withShard.where(col("_shard").isin(batch: _*))
          val out = pipeline(input, cfg)

          val metricExprs = batch.flatMap(s => Seq(
            count(when(col("_shard") === s, 1)).as(s"rows_$s"),
            sum(when(col("_shard") === s, checksumTerm)).as(s"sum_$s")))
          val obs = org.apache.spark.sql.Observation(s"graft_shards_${t0}_${batch.head}")

          out.observe(obs, metricExprs.head, metricExprs.tail: _*)
            .write
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_shard")
            .parquet(s"${cfg.outDir}/data")

          val metrics = obs.get
          val jobWallMs = System.currentTimeMillis() - t0
          batch.foreach { s =>
            val rows = metrics(s"rows_$s").asInstanceOf[Long]
            val checksum = metrics(s"sum_$s") match {
              case null => 0L
              case d: java.math.BigDecimal => d.longValue()
              case l: Long => l
            }
            totalRows += rows
            Manifest.commit(cfg.outDir, Manifest.Entry(
              s, rows, checksum, s"${cfg.outDir}/data/_shard=$s", fp,
              jobWallMs, System.currentTimeMillis()))
          }
        }
      }

      Files.createDirectories(Paths.get(cfg.outDir))
      GraftShim.drainListeners(spark.sparkContext)
      Files.write(Paths.get(cfg.outDir, "metrics.json"),
        listener.toJson.getBytes(StandardCharsets.UTF_8))
      RunReport(todo, done.keys.toSeq.sorted, totalRows, System.currentTimeMillis() - t0)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** spark-submit entry:
    *   FeatureJob <pagesParquetPath|gen:N> <outDir> [shards] [gapSeconds]
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FeatureJob <pagesPath|gen:urls> <outDir> [shards] [gapSeconds]")
    val builder = SparkSession.builder()
      .appName("graft-feature-job")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // under spark-submit the master arrives via system properties; fall back
    // to all local cores for direct JVM launches (sbt runMain, tests)
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
      .getOrCreate()
    val pages =
      if (args(0).startsWith("gen:"))
        PageGen.pages(spark, PageGen.Config(urls = args(0).stripPrefix("gen:").toInt)).toDF()
      else graft.sources.PageTable.read(spark, args(0))
    val cfg = Config(
      outDir = args(1),
      shards = if (args.length > 2) args(2).toInt else 8,
      sessionGapSeconds = if (args.length > 3) args(3).toLong else 6 * 3600)
    val report = run(spark, pages, cfg)
    // single-line machine-readable report
    println(s"""{"processed":${report.processedShards.size},"skipped":${report.skippedShards.size},""" +
      s""""rows":${report.rows},"wallMs":${report.wallMs}}""")
    spark.stop()
  }
}
