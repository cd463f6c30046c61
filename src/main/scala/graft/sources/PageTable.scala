package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Iceberg-style pages-table facade (SURVEY.md §7): no Iceberg runtime jar
  * is available offline, so the engine works against a partitioned+bucketed
  * Parquet layout that mirrors Iceberg's `days(warc_ts) x bucket(N, url)`
  * partition transform, with the FeatureJob lineage manifest standing in
  * for snapshots. Everything layout-specific lives behind this object so a
  * real Iceberg catalog can be swapped in by reimplementing these four
  * functions (read/write/prune/fingerprint) against `spark.table`.
  *
  * Layout columns:
  *  - `p_day`  — days since epoch of warc_ts (Iceberg `days(warc_ts)`)
  *  - `p_bucket` — pmod(xxhash64(url), nBuckets) (Iceberg `bucket(N, url)`)
  *
  * Both are derived, so readers prune by path (partition pruning) and
  * repeated runs get co-located url access — the plain-Parquet stand-in for
  * storage-partitioned joins.
  *
  * Schema: like Iceberg table metadata, the writer records the table's
  * schema in a `_schema.json` sidecar at the table root (and in each
  * snapshot data directory), and readers pass it to `spark.read.schema`
  * instead of running a Spark job to infer it from a Parquet footer. The
  * recorded schema is exactly the inferred one: data columns in written
  * order, then the partition columns, all nullable. A missing sidecar
  * (tables from older builds, or dropped by an append that changed the
  * schema) falls back to inference. Spark's file listing skips
  * `_`-prefixed names, so scans and `FeatureJob.fingerprint` never see it.
  */
object PageTable {

  val DayCol = "p_day"
  val BucketCol = "p_bucket"

  def withLayoutColumns(pages: DataFrame, nBuckets: Int): DataFrame =
    pages
      .withColumn(DayCol, datediff(col("warc_ts").cast("date"), lit("1970-01-01").cast("date")))
      .withColumn(BucketCol, pmod(xxhash64(col("url")), lit(nBuckets)).cast("int"))

  /** Write the pages table in the Iceberg-style layout and record its
    * schema. An append keeps the sidecar only when the table's schema is
    * unchanged by it.
    */
  def write(pages: DataFrame, path: String, nBuckets: Int = 16,
            mode: String = "overwrite", compression: String = "zstd"): Unit = {
    val laid = withLayoutColumns(pages, nBuckets)
    // a static overwrite (or a first write) replaces the whole table; any
    // other write that adds data is checked against the recorded schema;
    // ignore/error on an existing table writes nothing
    val existed = sidecar(path).exists(f => Files.exists(f.getParent))
    val replaces = !existed || mode.equalsIgnoreCase("overwrite") &&
      pages.sparkSession.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("static")
    val commit =
      if (replaces) () => recordSchema(laid, path)
      else if (mode.equalsIgnoreCase("append") || mode.equalsIgnoreCase("overwrite"))
        keepSchemaIfSame(laid, path)
      else () => ()
    laid
      .repartition(col(DayCol), col(BucketCol)) // one file per partition dir
      .write
      .partitionBy(DayCol, BucketCol)
      .option("compression", compression)
      .mode(mode)
      .parquet(path)
    commit()
  }

  /** Read the table; layout columns come back as partition columns. */
  def read(spark: SparkSession, path: String): DataFrame =
    recordedSchema(path).fold(spark.read)(s => spark.read.schema(s)).parquet(path)

  /** Day-range + url-bucket pruned read: both predicates are on partition
    * columns, so they prune directories before any file is opened
    * (verify via .explain: PartitionFilters).
    */
  def readPruned(spark: SparkSession, path: String,
                 dayFrom: Option[Int] = None, dayUntil: Option[Int] = None,
                 urls: Seq[String] = Nil, nBuckets: Int = 16): DataFrame = {
    var df = read(spark, path)
    dayFrom.foreach(d => df = df.where(col(DayCol) >= d))
    dayUntil.foreach(d => df = df.where(col(DayCol) < d))
    if (urls.nonEmpty) {
      val buckets = urls.map(u => bucketOf(u, nBuckets)).distinct
      df = df.where(col(BucketCol).isin(buckets: _*) && col("url").isin(urls: _*))
    }
    df
  }

  /** Write a table in Spark's bucketed layout — the plain-Parquet stand-in
    * for Iceberg's storage-partitioned JOIN (the pruned-read path above
    * stands in for partition pruning). Two tables written with the same
    * `bucketCol` and `nBuckets` sort-merge join with ZERO shuffle on either
    * side: each scan reports `HashPartitioning(bucketCol, nBuckets)`, which
    * already satisfies the join's distribution requirement, so Catalyst
    * plans no Exchange (asserted in BucketedJoinSpec). At 100 TB this is
    * the difference between re-shuffling the corpus per join and reading
    * co-located buckets — write-once, join-many.
    *
    * The input is repartitioned on the bucket column first so each bucket
    * is one file; `sortBy` persists the within-bucket order so the merge
    * join's sort is satisfied from the layout too.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCol: String, nBuckets: Int = 16,
                    sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.repartition(nBuckets, col(bucketCol))
      .write
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol, sortCols: _*)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Incremental MERGE of a crawl delta into the pages layout — the
    * Iceberg overwrite-by-filter analog on the plain-Parquet facade:
    * upsert by (url, warc_ts), rewriting ONLY the (p_day, p_bucket)
    * partitions the delta touches. Existing rows in touched partitions
    * whose key reappears in the delta are REPLACED (recrawl corrections);
    * everything else in those partitions is carried over; untouched
    * partition directories are never rewritten (dynamic partition
    * overwrite — asserted on file mtimes in PageTableSpec).
    *
    * Scale shape: the delta's partition set is joined as a left-semi
    * filter, so the carry-over scan reads ONLY touched partitions
    * (partition pruning on the derived columns); the anti-join runs on
    * (url, warc_ts) keys within them. The carried rows are materialized
    * (localCheckpoint) before the write because a path cannot be
    * overwritten while a plan still scans it — per-merge memory is
    * bounded by the touched-partition footprint, so batch deltas by
    * partition count, exactly as an Iceberg commit batches manifests.
    */
  def mergeDelta(spark: SparkSession, path: String, delta: DataFrame,
                 nBuckets: Int = 16, compression: String = "zstd"): Unit = {
    val d = withLayoutColumns(delta, nBuckets)
    val parts = d.select(col(DayCol), col(BucketCol)).distinct()
    val keep = read(spark, path)
      .join(parts, Seq(DayCol, BucketCol), "left_semi")
      .join(d.select(col("url"), col("warc_ts")), Seq("url", "warc_ts"),
        "left_anti")
      .localCheckpoint(true)
    val merged = keep.unionByName(d.select(keep.columns.map(col): _*))
    val commit = keepSchemaIfSame(merged, path)
    merged
      .repartition(col(DayCol), col(BucketCol))
      .write
      .partitionBy(DayCol, BucketCol)
      .option("compression", compression)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
    commit()
  }

  // ---- schema sidecar ---------------------------------------------------

  /** Name of the schema sidecar; Spark's file listing skips `_` names. */
  val SchemaFile = "_schema.json"

  /** The sidecar of the table (or snapshot data directory) at `dir`. None
    * off the local file system: sidecar I/O uses java.nio like the
    * snapshot manifests, so there no sidecar is written and reads infer.
    */
  private def sidecar(dir: String): Option[java.nio.file.Path] = {
    val uri = new org.apache.hadoop.fs.Path(dir).toUri
    if (uri.getScheme == null || uri.getScheme == "file") Some(Paths.get(uri.getPath, SchemaFile))
    else None
  }

  /** The schema recorded at `dir` (a table root or a snapshot data
    * directory); None when there is no readable sidecar.
    */
  def recordedSchema(dir: String): Option[StructType] =
    sidecar(dir).filter(Files.isRegularFile(_))
      .flatMap(f => scala.util.Try(DataType.fromJson(new String(Files.readAllBytes(f), UTF_8))).toOption)
      .collect { case s: StructType => s }

  /** What Spark infers for `written` once it sits at `dir`: the data
    * columns made nullable (as a file source reads them), then the
    * partition columns as Spark's partition discovery types them — one
    * driver-side listing, no job. None when `dir` holds no data file
    * (inference fails there, so no sidecar may claim a schema).
    */
  private def tableSchema(written: DataFrame, dir: String): Option[StructType] = {
    val index = new InMemoryFileIndex(written.sparkSession,
      Seq(new org.apache.hadoop.fs.Path(dir)), Map.empty, None)
    if (index.allFiles().isEmpty) None
    else {
      val parts = index.partitionSchema
      val data = written.schema.filterNot(f => parts.fieldNames.contains(f.name))
      Some(StructType(data.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)) ++ parts))
    }
  }

  /** `t` with every field, array element and map value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Record the schema of `written`, just written to `dir` as a whole. */
  private def recordSchema(written: DataFrame, dir: String): Unit =
    sidecar(dir).foreach(f => tableSchema(written, dir).foreach(s => atomicWrite(f, s.json)))

  /** Before `written` is added to the table at `dir`: drop its sidecar, so
    * a crash mid-write leaves none that could be stale. The returned commit
    * step puts it back after the write only when the table's schema is
    * unchanged; otherwise reads fall back to inference.
    */
  private def keepSchemaIfSame(written: DataFrame, dir: String): () => Unit = {
    val before = recordedSchema(dir)
    sidecar(dir).foreach(Files.deleteIfExists)
    () => before.filter(tableSchema(written, dir).contains)
      .foreach(s => sidecar(dir).foreach(atomicWrite(_, s.json)))
  }

  /** Write `text` to `f` via a dot-prefixed tmp file and an atomic move. */
  private def atomicWrite(f: java.nio.file.Path, text: String): Unit = {
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(s".${f.getFileName}.tmp")
    Files.write(tmp, text.getBytes(UTF_8))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- snapshot versioning (time travel) -------------------------------
  //
  // Iceberg-style commits at toy scale: data directories are APPEND-ONLY
  // (`data/v<N>/`), and a snapshot is a JSON manifest listing the
  // directories visible at that version — written LAST via tmp+atomic-move,
  // so a crashed writer leaves no half-visible snapshot. Readers pin a
  // version and are immune to concurrent appends; nothing is ever
  // rewritten, so `readSnapshot(v)` returns bit-identical data forever.
  // Manifest I/O uses java.nio like `runtime.Manifest` (local-FS sandbox;
  // a production port swaps in the Hadoop FileSystem API).

  private def snapshotsDir(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path, "_snapshots")

  private val SnapshotRe =
    """\{"version":(\d+),"dirs":\[([^\]]*)\]\}""".r

  /** Highest committed snapshot version at `path`, 0 when none. */
  def latestSnapshotVersion(path: String): Int = {
    val d = snapshotsDir(path)
    if (!java.nio.file.Files.isDirectory(d)) return 0
    val it = java.nio.file.Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala.map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toInt }
        .foldLeft(0)(math.max)
    } finally it.close()
  }

  /** Data directories (relative to `path`) visible at `version`. */
  def snapshotDirs(path: String, version: Int): Seq[String] = {
    val f = snapshotsDir(path).resolve(s"v$version.json")
    val text = new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8)
    text match {
      case SnapshotRe(_, dirs) =>
        dirs.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty)
      case _ => throw new java.io.IOException(s"malformed snapshot manifest $f")
    }
  }

  /** Commit a new snapshot: write `pages` into a FRESH data directory,
    * then publish manifest v(N+1) = (previous dirs when `append`) + the
    * new one. Returns the committed version.
    */
  def writeSnapshot(pages: DataFrame, path: String, append: Boolean = true,
                    compression: String = "zstd"): Int = {
    val prev = latestSnapshotVersion(path)
    val v = prev + 1
    val rel = s"data/v$v"
    pages.write.option("compression", compression).parquet(s"$path/$rel")
    recordSchema(pages, s"$path/$rel")
    val dirs = (if (append && prev > 0) snapshotDirs(path, prev)
                else Seq.empty) :+ rel
    val json = dirs.map("\"" + _ + "\"")
      .mkString(s"""{"version":$v,"dirs":[""", ",", "]}")
    atomicWrite(snapshotsDir(path).resolve(s"v$v.json"), json)
    v
  }

  /** Read the table AS OF `version` (default: latest). */
  def readSnapshot(spark: SparkSession, path: String,
                   version: Int = -1): DataFrame = {
    val v = if (version > 0) version else latestSnapshotVersion(path)
    require(v > 0, s"no snapshots at $path")
    val dirs = snapshotDirs(path, v).map(d => s"$path/$d")
    // pinned only when every directory recorded the same schema
    val reader = dirs.map(recordedSchema).distinct match {
      case Seq(Some(s)) => spark.read.schema(s)
      case _ => spark.read
    }
    reader.parquet(dirs: _*)
  }

  /** Driver-side bucket id of a url — must agree with xxhash64(url) % N.
    * Length is the UTF-8 BYTE count (url.length is chars — using it would
    * hash a truncated prefix for any non-ASCII url and prune wrong buckets).
    */
  def bucketOf(url: String, nBuckets: Int): Int = {
    val bytes = url.getBytes("UTF-8")
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
    val m = h % nBuckets
    (if (m < 0) m + nBuckets else m).toInt
  }
}
